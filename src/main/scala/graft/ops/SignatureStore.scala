package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash signature store: the serving layout for steady-state
  * crawl dedup at rest. [[Extensions15.incrementalSignatureDedup]] is the
  * compute; this is where the corpus side LIVES between batches — band
  * postings written `partitionBy(cell)` where cell = a hash of the
  * (band, band-hash) key, so an incoming batch reads ONLY the cells its
  * own band keys land in. Small batches (the steady-state case: a crawl
  * increment against a billion-doc store) touch a bounded cell subset;
  * the rest of the store is pruned at the directory level — the same
  * static-pruning discipline as [[IvfStore]] (literal `isin`, visible as
  * `PartitionFilters`, asserted in SignatureStoreSpec).
  *
  * Postings are DENORMALIZED: each row carries the full 32-long signature
  * next to its band key, so the verdict (estimated Jaccard over matching
  * positions) computes from the pruned read alone — no second,
  * unprunable join back to a signature table. Cost: bands× copies of the
  * signature (~8× of 256 bytes/doc) — a fraction of a percent of corpus
  * text, the price of never re-reading ANY corpus-side data beyond the
  * probed cells.
  */
object SignatureStore {

  /** Number of cell directories. 256 bounds the directory count while
    * giving a small batch real pruning (a 1000-doc batch probes ≤ 8000
    * band keys → typically all cells only once the batch is large enough
    * that pruning stops mattering anyway).
    */
  val Cells = 256

  private def cellOf(band: org.apache.spark.sql.Column, bh: org.apache.spark.sql.Column) =
    pmod(xxhash64(band, bh), lit(Cells.toLong)).cast("int")

  /** Explode signatures (doc_id, h0..h31) into band postings with the
    * full signature riding along. `bands` must divide the permutation
    * count; rows-per-band = perms/bands.
    */
  private def postings(sigs: DataFrame, bands: Int): DataFrame = {
    require(bands >= 1 && Extensions.MinhashPerms % bands == 0,
      s"bands must divide ${Extensions.MinhashPerms}, got $bands")
    val rows = Extensions.MinhashPerms / bands
    val bandCols = (0 until bands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws(":", (bnd * rows until (bnd + 1) * rows).map(i => col(s"h$i")): _*)
          .as("bh"))
    }
    sigs.select(col("doc_id") +: (0 until Extensions.MinhashPerms).map(i => col(s"h$i"))
        :+ explode(array(bandCols: _*)).as("b"): _*)
      .withColumn("band", col("b.band"))
      .withColumn("bh", col("b.bh"))
      .drop("b")
      .withColumn("cell", cellOf(col("band"), col("bh")))
  }

  /** The manifest meta key carrying the band geometry. */
  private val BandsKey = "bands"

  /** The band count a pinned version was built with — committed INSIDE
    * the manifest version at write time (the PostingStore modulus
    * discipline: probing or appending under a different geometry would
    * scatter band keys across two layouts and silently lose matches).
    * Geometry and file list commit in ONE rename, so no failure window
    * can publish one without the other; a version without it is refused.
    */
  private def bandsFrom(path: String, meta: Map[String, String]): Int =
    StoreManifest.metaValue(path, meta, BandsKey).toInt

  /** Write (or overwrite) the store from a signature table. The
    * repartition on cell keeps each cell's rows in one task — without it
    * a partitionBy write fans out to (tasks × cells) small files (8192
    * at 32 tasks; measured 2× the whole query's cost), the classic
    * small-files failure a 100 TB store cannot afford.
    *
    * All writes commit through [[StoreManifest]]: data lands in a fresh
    * batch dir, the manifest rename publishes it atomically — a reader
    * concurrent with ANY write (append or compaction) sees the pre- or
    * post-state, never a torn mix. The band geometry is part of the
    * SAME commit (`#bands=` manifest meta): an overwrite with a new
    * band count that fails before publish leaves the old (geometry,
    * postings) pair fully intact — there is no sidecar written ahead of
    * the data for a crash to orphan.
    */
  def write(sigs: DataFrame, path: String,
      bands: Int = Extensions.LshBands): Unit = {
    StoreManifest.commit(sigs.sparkSession, path, Nil, Map(BandsKey -> bands.toString))(
      postings(sigs, bands).repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite").parquet(_))
  }

  /** Append a new batch's signatures (after its dedup verdict kept them)
    * — only the touched cells gain files; the commit is the manifest
    * rename (old list + the new batch's files, geometry carried
    * forward). One [[StoreManifest.pin]] supplies BOTH the file list
    * and the geometry, so the new postings are keyed under exactly the
    * geometry of the version they extend.
    */
  def append(sigs: DataFrame, path: String): Unit = {
    val spark = sigs.sparkSession
    val (pinned, meta) = StoreManifest.pin(spark, path)
    StoreManifest.commit(spark, path, pinned, meta)(
      postings(sigs, bandsFrom(path, meta)).repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite").parquet(_))
  }

  /** Compact deleted documents OUT of the store — the missing half of
    * "the store is where the corpus lives between batches": the
    * pipeline's own dedup/decontamination (x72/x77) later REMOVES docs,
    * and an append-only store would serve their stale postings as dup
    * verdicts forever.
    *
    * Removal is signature-driven because that is what makes it
    * PRUNABLE: a doc's postings live in exactly the cells its band keys
    * hash to, so the removed docs' signatures give a bounded cell list
    * (driver-side, O(cells) ints — the dedup probe shape), and only
    * those cells' files are read and anti-joined on doc_id. The
    * survivors land in a FRESH batch dir, and the commit is one
    * manifest rename: (pinned files outside the touched cells) + (the
    * compacted batch) — emptied cells simply have no files in the new
    * manifest. Old files are never touched, so a reader pinned to the
    * pre-compaction version keeps its exact snapshot ([[StoreManifest]];
    * StoreManifestSpec races this). Returns the touched cell ids.
    */
  def compact(spark: SparkSession, path: String, removeSigs: DataFrame): Set[Int] = {
    val (pinned, meta) = StoreManifest.pin(spark, path)
    val posts = Extensions.materialized(
      postings(removeSigs, bandsFrom(path, meta)))
    val cells = posts.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (cells.isEmpty) return Set.empty
    val cellSet = cells.map(_.toString).toSet
    val removeIds = broadcast(removeSigs.select(col("doc_id")).distinct())
    val kept = StoreManifest.readFiles(spark, path, pinned)
      .filter(col("cell").isin(cells: _*))
      .join(removeIds, Seq("doc_id"), "left_anti")
    val untouched = pinned.filterNot(f =>
      StoreManifest.partValueOf(f, "cell").exists(cellSet.contains))
    StoreManifest.commit(spark, path, untouched, meta)(
      kept.repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite").parquet(_))
    cells.toSet
  }

  /** Signature-only incremental dedup of a batch against the store —
    * identical semantics to [[Extensions15.incrementalSignatureDedup]]
    * (band candidates, estimated-Jaccard verdict, best match above
    * `threshold`, ties to the lowest corpus id), but the corpus side is
    * the PRUNED store read: the batch's band keys hash to a bounded cell
    * list, collected driver-side (O(cells) ints — the IvfStore probe
    * shape) and pushed as a literal `isin` partition filter.
    */
  def dedupAgainstStore(
      spark: SparkSession, path: String, batchSigs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    // ONE pin supplies both geometry and files: a writer publishing a
    // re-banded store between a geometry read and a file read would
    // otherwise hand this query new-geometry band keys over old files
    val (pinned, meta) = StoreManifest.pin(spark, path)
    val batchPosts = Extensions.materialized(
      postings(batchSigs, bandsFrom(path, meta)))
    val cells = batchPosts.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val store = StoreManifest.readFiles(spark, path, pinned)
      .filter(col("cell").isin(cells: _*))
    val matches = (0 until Extensions.MinhashPerms)
      .map(i => when(col(s"c.h$i") === col(s"b.h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("b_id")).orderBy(col("est_jaccard").desc, col("c_id"))
    val best = store.as("c")
      .join(batchPosts.as("b"),
        col("c.band") === col("b.band") && col("c.bh") === col("b.bh"))
      .select(col("c.doc_id").as("c_id"), col("b.doc_id").as("b_id"),
        Extensions.round4o(matches / Extensions.MinhashPerms.toDouble)
          .as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= threshold)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("b_id"), col("c_id").as("dup_of"), col("est_jaccard"))
    batchSigs.select(col("doc_id").as("b_id"))
      .join(best, Seq("b_id"), "left_outer")
      .select(col("b_id"), col("dup_of").isNull.as("keep"),
        col("dup_of"), col("est_jaccard"))
  }

  /** Choose the store's band geometry from MEASURED recall — the
    * [[PqStore.probePlan]] discipline applied to LSH banding: x118
    * predicts the (bands, rows) S-curve and x228 audits the pinned 8×4,
    * but nothing CHOSE; this sweeps every signature-compatible geometry
    * (bands dividing the 32 permutations), measures each one's
    * candidate recall against the exact pair truth at calibration SF,
    * and marks the cheapest geometry reaching `targetRecall` (more
    * bands = more candidate pairs = more verify work = higher recall,
    * so cheapest = fewest candidates = fewest bands; when none
    * reaches, the highest-recall geometry, bands = 32).
    *
    * One pass over the data, all geometries at once: band boundaries at
    * power-of-two rows NEST, so any geometry's band match implies a
    * (32,1) positional match — candidates come from ONE per-position
    * bucket join, and each candidate pair carries a 32-bit bitmap of
    * matched positions from which every geometry's verdict is pure bit
    * arithmetic (no per-geometry joins). Output ordered by bands desc:
    * (bands, rows_per_band, n_truth, n_candidates, n_caught, recall,
    * chosen).
    *
    * Scale: a calibration tool. The (32,1) candidate set bounds every
    * geometry's; the bucket join is inverted-index-shaped (never
    * all-pairs); the bitmap join touches candidate pairs only; the
    * sweep result is 6 rows.
    */
  def geometryPlan(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, targetRecall: Double = 0.9): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val perms = Extensions.MinhashPerms
    val geometries = (0 to 5).map(1 << _).reverse // 32, 16, 8, 4, 2, 1 bands
    val idx = Extensions.materialized(
      Extensions.shingleIndexKeyedOf(corpus, idCol, textCol))
    val truth = Extensions.materialized(
      Extensions.exactJaccardFromIndex(idx, threshold)
        .select(col("doc_a"), col("doc_b")))
    val sig = Extensions.materialized(Extensions.minhashSignaturesFrom(idx))
    // (32,1) candidates: any shared minhash position
    val pos = sig.select(col("doc_id"),
      posexplode(array((0 until perms).map(i => col(s"h$i")): _*)).as(Seq("i", "h")))
    val cand = pos.as("x").join(pos.as("y").hint("shuffle_hash"),
        col("x.i") === col("y.i") && col("x.h") === col("y.h") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // per-pair matched-position bitmap
    val a = sig.toDF(sig.columns.map(c => if (c == "doc_id") "doc_a" else s"a_$c"): _*)
    val b = sig.toDF(sig.columns.map(c => if (c == "doc_id") "doc_b" else s"b_$c"): _*)
    val bitmap = (0 until perms)
      .map(i => when(col(s"a_h$i") === col(s"b_h$i"), lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    val flagged = Extensions.materialized(
      cand.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), bitmap.as("bm"))
        .join(truth.withColumn("is_truth", lit(true)),
          Seq("doc_a", "doc_b"), "full_outer")
        .select(coalesce(col("bm"), lit(0L)).as("bm"),
          coalesce(col("is_truth"), lit(false)).as("is_truth")))
    def bandMatch(bands: Int): Column = {
      val rows = perms / bands
      (0 until bands).map { j =>
        val mask = (((1L << rows) - 1L) << (j * rows))
        col("bm").bitwiseAND(lit(mask)) === lit(mask)
      }.reduce(_ || _)
    }
    val aggCols = geometries.flatMap { g =>
      Seq(sum(when(bandMatch(g), 1L).otherwise(0L)).as(s"cand_$g"),
        sum(when(bandMatch(g) && col("is_truth"), 1L).otherwise(0L)).as(s"caught_$g"))
    } :+ sum(when(col("is_truth"), 1L).otherwise(0L)).as("n_truth")
    val r = flagged.agg(aggCols.head, aggCols.tail: _*).head()
    val nTruth = r.getLong(2 * geometries.length)
    val rows = geometries.zipWithIndex.map { case (g, i) =>
      val nc = r.getLong(2 * i)
      val caught = r.getLong(2 * i + 1)
      val recall =
        if (nTruth == 0) 1.0
        else BigDecimal(caught.toDouble / nTruth)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      (g.toLong, (perms / g).toLong, nTruth, nc, caught, recall)
    }
    val chosen = rows.reverse.find(_._6 >= targetRecall) // fewest bands first
      .map(_._1).getOrElse(geometries.head.toLong)
    rows.map { case (g, rw, nt, nc, ca, rec) =>
      (g, rw, nt, nc, ca, rec, g == chosen)
    }.toDF("bands", "rows_per_band", "n_truth", "n_candidates", "n_caught",
      "recall", "chosen")
  }
}
