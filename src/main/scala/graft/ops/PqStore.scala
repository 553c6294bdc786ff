package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index — the deployed form of the x102 serving path
  * (the sibling the x102 docstring promised; round-6 VERDICT item #1).
  * Completes the billion-scale ANN story: [[IvfStore]] persists raw
  * vectors routed by cell, this persists the PQ CODES routed by cell —
  * 16 bytes a vector instead of 256 — plus everything serving needs and
  * nothing else:
  *
  * {{{
  *   path/codes/_manifest/           StoreManifest commit log (version → file list + meta)
  *   path/codes/batch=V-R/cell=N/    (vec_id, m, k)    partitionBy(cell), immutable batches
  *   path/centroids-R             (cell, cvec)      coarse quantizer, versioned, named by meta
  *   path/codebook-R              ModelStore PQ artifact, versioned, named by meta
  * }}}
  *
  * Serving reads ONLY the probed cell directories: the probed cell set
  * (≤ queries × probes ids) collects driver-side — the same bounded
  * list as [[IvfStore.topKFromIndex]] — and becomes an `isin` literal
  * the Parquet source turns into static partition pruning (INSET
  * PartitionFilters, asserted in PqStoreSpec). Raw vectors appear
  * nowhere: candidates are codes, per-candidate work is M table
  * lookups against the broadcast per-query distance tables. Routing,
  * distance tables, and ranking are the SAME private helpers
  * [[Extensions31.ivfPqTopK]] uses ([[Extensions31.probeCells]] /
  * [[Extensions31.adcDistTable]] / [[Extensions31.adcRank]]), so
  * store-served equals in-memory by construction — and PqStoreSpec
  * asserts it value-for-value.
  */
object PqStore {

  /** Manifest meta keys naming the versioned quantizer artifacts a given
    * codes version was encoded under (dirs relative to the store root).
    */
  private val CentroidsKey = "centroids"
  private val CodebookKey = "codebook"

  /** Quantize, assign each vector to its coarse cell, PQ-encode, and
    * write codes partitioned by cell. Coarse centroids are the first
    * `nCells` vectors in id order (the x16/x102 deterministic-seeding
    * convention). The centroid table and PQ codebook land FIRST in
    * fresh versioned dirs; the codes manifest commit names both in its
    * meta — one rename publishes a consistent (centroids, codebook,
    * codes) triple, so a reader pinned to ANY version decodes with
    * exactly the quantizers that version was encoded under (a mutable
    * sidecar overwritten around the publish can tear against it).
    */
  def writeIndex(
      vectors: DataFrame, idCol: String, vecCol: String,
      codebook: Array[Array[Array[Long]]], path: String,
      nCells: Int = Extensions31.IvfPqCells): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val qv = Extensions.materialized(
      Extensions27.quantized(vectors, idCol, vecCol))
    val cents = qv.orderBy(col("vec_id")).limit(nCells).collect()
      .map(_.getSeq[Long](1)).toSeq
    require(cents.length == nCells, s"PqStore: need at least $nCells vectors")
    val rand = java.util.UUID.randomUUID.toString.take(8)
    val centDir = s"centroids-$rand"
    val bookDir = s"codebook-$rand"
    cents.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "cvec")
      .coalesce(1).write.parquet(s"$path/$centDir")
    ModelStore.writePqCodebook(spark, s"$path/$bookDir", codebook)
    val cl = Extensions31.centsLit(cents)
    val assigned = qv.select(col("vec_id"), Extensions31.cellExpr(cl, nCells).as("cell"))
    StoreManifest.commit(spark, s"$path/codes", Nil,
        Map(CentroidsKey -> centDir, CodebookKey -> bookDir))(
      Extensions27.pqEncode(vectors, idCol, vecCol, codebook)
        .join(assigned, Seq("vec_id"))
        .write.partitionBy("cell").mode("overwrite").parquet(_))
  }

  /** Store-level vacuum: superseded codes batches AND the versioned
    * `centroids-<rand>` / `codebook-<rand>` quantizer dirs no surviving
    * manifest meta names — every [[writeIndex]] lands a fresh pair and
    * they live at `path`, outside the `path/codes` root the batch-dir
    * vacuum sweeps, so without this they leak forever. Retention clock
    * applies to both. Returns (deleted data files, deleted sidecar dirs).
    */
  def vacuumStore(spark: SparkSession, path: String, keepVersions: Int = 1,
      retentionMs: Long = StoreManifest.DefaultRetentionMs): (Seq[String], Seq[String]) = {
    val root = s"$path/codes"
    val sidecars = StoreManifest.vacuumSidecars(
      spark, path, root, Seq(CentroidsKey, CodebookKey), keepVersions, retentionMs)
    val files = StoreManifest.vacuum(spark, root, keepVersions, retentionMs)
    (files, sidecars)
  }

  /** The quantizer dir `key` names in the pinned version's meta. */
  private def quantizerDir(path: String, meta: Map[String, String], key: String): String =
    s"$path/${StoreManifest.metaValue(s"$path/codes", meta, key)}"

  /** The pinned version's coarse centroids, cell-ordered (bounded:
    * nCells rows).
    */
  private def centsFrom(
      spark: SparkSession, path: String, meta: Map[String, String]): Seq[Seq[Long]] =
    spark.read.parquet(quantizerDir(path, meta, CentroidsKey))
      .orderBy(col("cell"))
      .collect().map(_.getSeq[Long](1)).toSeq

  private def codebookFrom(
      spark: SparkSession, path: String,
      meta: Map[String, String]): Array[Array[Array[Long]]] =
    ModelStore.loadPqCodebook(spark, quantizerDir(path, meta, CodebookKey))

  /** Append new vectors: encode against the STORED codebook and assign
    * against the STORED centroids (old and new rows must agree on the
    * geometry). The batch lands in a fresh dir and the manifest rename
    * publishes it ([[StoreManifest]]) — the steady-state ingest path,
    * no rewrite, and a concurrent reader never sees a half-added batch.
    */
  def appendToIndex(
      newVecs: DataFrame, idCol: String, vecCol: String, path: String): Unit = {
    val spark = newVecs.sparkSession
    val codesRoot = s"$path/codes"
    val (pinned, meta) = StoreManifest.pin(spark, codesRoot)
    val codebook = codebookFrom(spark, path, meta)
    val cents = centsFrom(spark, path, meta)
    val cl = Extensions31.centsLit(cents)
    val qv = Extensions27.quantized(newVecs, idCol, vecCol)
    val assigned = qv.select(col("vec_id"),
      Extensions31.cellExpr(cl, cents.length).as("cell"))
    StoreManifest.commit(spark, codesRoot, pinned, meta)(
      Extensions27.pqEncode(newVecs, idCol, vecCol, codebook)
        .join(assigned, Seq("vec_id"))
        .write.partitionBy("cell").mode("overwrite").parquet(_))
  }

  /** Compact removed vectors OUT of the index (the [[IvfStore.compactIndex]]
    * discipline): re-assign the removed embeddings against the stored
    * centroids to find exactly the cells their codes live in, read ONLY
    * those cells' files (pinned via the manifest), anti-join on vec_id,
    * write the survivors to a fresh batch dir, and publish one manifest:
    * (pinned files outside the touched cells) + (the compacted batch).
    * Emptied cells just have no files in the new manifest; old files are
    * never touched, so a pre-compaction reader keeps its snapshot
    * ([[StoreManifest]]). Returns the touched cell ids.
    */
  def compactIndex(
      removeVecs: DataFrame, idCol: String, vecCol: String, path: String): Set[Int] = {
    val spark = removeVecs.sparkSession
    val codesRoot = s"$path/codes"
    val (pinned, meta) = StoreManifest.pin(spark, codesRoot)
    val cents = centsFrom(spark, path, meta)
    val cl = Extensions31.centsLit(cents)
    val assigned = Extensions.materialized(
      Extensions27.quantized(removeVecs, idCol, vecCol)
        .select(col("vec_id"), Extensions31.cellExpr(cl, cents.length).as("cell")))
    val cells = assigned.select(col("cell").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (cells.isEmpty) return Set.empty
    val cellSet = cells.map(_.toString).toSet
    val removeIds = broadcast(assigned.select(col("vec_id")).distinct())
    val kept = StoreManifest.readFiles(spark, codesRoot, pinned)
      .filter(col("cell").isin(cells: _*))
      .join(removeIds, Seq("vec_id"), "left_anti")
    val untouched = pinned.filterNot(f =>
      StoreManifest.partValueOf(f, "cell").exists(cellSet.contains))
    StoreManifest.commit(spark, codesRoot, untouched, meta)(
      kept.repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite").parquet(_))
    cells.toSet
  }

  /** Probe-count planner: serve the query batch at every probe count
    * 1..`maxProbes`, score recall@k against brute-force truth over
    * `vectors` (the raw corpus the index was built from), and mark the
    * SMALLEST probe count reaching `targetRecall` (the largest probed
    * count when none does). Output ordered:
    * (probes, n_queries, recall, chosen).
    *
    * This is the serving knob the ANN tier turns: probes × cell size
    * IS the per-query read cost, and this table prices each step
    * against measured recall on the REAL served path (pruned reads,
    * stored geometry) — the x228 philosophy (measure the pinned
    * configuration, don't extrapolate) applied to IVF routing.
    * Measured means measured: under ADC, recall is NOT guaranteed
    * monotone in probes — a newly-probed cell's candidates can
    * DISPLACE a true neighbor from the top-k when quantization error
    * scores an impostor closer (observed on the fixture: 0.46 at 1
    * probe, 0.44 at 2) — which is exactly why the knob is priced
    * empirically instead of assumed.
    *
    * Scale: a calibration tool — maxProbes serving passes over a
    * SAMPLED query batch (each pass reads only its probed cells) plus
    * one brute truth pass; the driver holds O(maxProbes) rows.
    */
  def probePlan(
      spark: SparkSession, path: String,
      vectors: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, k: Int = 5, maxProbes: Int = 8,
      targetRecall: Double = 0.9): DataFrame = {
    import spark.implicits._
    require(maxProbes >= 1)
    val truth = Extensions.materialized(
      Extensions27.bruteTopK(vectors, queries, idCol, vecCol, k)
        .select(col("q_id"), col("c_id")))
    val rows = (1 to maxProbes).map { p =>
      val served = topKFromIndex(spark, path, queries, idCol, vecCol, k, probes = p)
      val r = Extensions4.recallAtK(served, truth)
        .agg(sum(col("n_hit")).cast("double") / sum(col("n_truth")),
          count(lit(1)))
        .head()
      (p.toLong, r.getLong(1), BigDecimal(r.getDouble(0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val chosen = rows.find(_._3 >= targetRecall).map(_._1).getOrElse(maxProbes.toLong)
    rows.map { case (p, nq, rec) => (p, nq, rec, p == chosen) }
      .toDF("probes", "n_queries", "recall", "chosen")
  }

  /** ADC top-k for a query batch against the written index, reading
    * only the probed cell directories. Identical semantics (and values)
    * to [[Extensions31.ivfPqTopK]] with the same geometry.
    */
  def topKFromIndex(
      spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int = 5,
      probes: Int = Extensions31.IvfPqProbes): DataFrame = {
    // ONE pin supplies codebook, centroids, AND files — a concurrent
    // writeIndex can no longer hand this query one version's codes
    // under another version's quantizers
    val (pinned, meta) = StoreManifest.pin(spark, s"$path/codes")
    val codebook = codebookFrom(spark, path, meta)
    val cents = centsFrom(spark, path, meta)
    val cl = Extensions31.centsLit(cents)
    val qq = Extensions.materialized(
      Extensions27.quantized(queries, idCol, vecCol))
    val probed = Extensions31.probeCells(qq, cl, cents.length, probes)
    // bounded driver-side cell list -> literal isin -> static partition pruning
    val cells = probed.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    // the isin still prunes to the probed cells' files (PartitionFilters,
    // asserted in PqStoreSpec)
    val codes = StoreManifest.readFiles(spark, s"$path/codes", pinned)
      .filter(col("cell").isin(cells: _*))
    Extensions31.adcRank(
      probed.join(codes, Seq("cell")).select(col("q_id"), col("vec_id"), col("m"), col("k")),
      Extensions31.adcDistTable(qq, codebook), k)
  }
}
