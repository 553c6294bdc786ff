package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Fifteenth extension batch — signature-store dedup: the MinHash
  * signature table as a first-class, storable artifact, and incremental
  * batch-vs-corpus near-dedup that runs ENTIRELY on signatures. This is
  * the steady-state crawl shape at 100 TB: the corpus collapses once to
  * 32 longs per document (the signature store — no text retained), and
  * each arriving batch is signed, banded against the store, and judged
  * by estimated Jaccard — [[Extensions4.incrementalDedup]]'s exact
  * verify needs the corpus TEXT every batch; this needs 256 bytes/doc.
  */
object Extensions15 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** MinHash signature table (doc_id, h0..h31) over any corpus — the
    * portable md5-affine signatures of the x03 pipeline, exposed for
    * storage/reuse. One tokenize + one 32-way partial-aggregating min.
    */
  def minhashSignatures(
      corpus: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5): DataFrame =
    Extensions.minhashSignaturesFrom(
      Extensions.shingleIndexKeyedOf(corpus, idCol, textCol, shingleSize))

  private def banded(sigs: DataFrame, idAs: String): DataFrame = {
    // rows-per-band derives from the signature geometry — hardcoding it
    // would silently truncate signatures (or reference nonexistent h
    // columns) if MinhashPerms/LshBands ever change
    val rows = Extensions.MinhashPerms / Extensions.LshBands
    require(rows * Extensions.LshBands == Extensions.MinhashPerms,
      s"LshBands (${Extensions.LshBands}) must divide MinhashPerms (${Extensions.MinhashPerms})")
    val bandCols = (0 until Extensions.LshBands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws(":", (bnd * rows until (bnd + 1) * rows).map(i => col(s"h$i")): _*)
          .as("bh"))
    }
    sigs.select(col("doc_id").as(idAs), explode(array(bandCols: _*)).as("b"))
      .select(col(idAs), col("b.band").as("band"), col("b.bh").as("bh"))
  }

  /** Signature-only incremental near-dedup: every batch doc against the
    * corpus signature store. Candidates agree on at least one LSH band;
    * the verdict is the signature-estimated Jaccard (matching positions /
    * 32) — no text access on either side. Output one row per batch doc:
    * (b_id, keep, dup_of, est_jaccard), dup_of = the best-estimate corpus
    * match above `threshold` (ties to the lowest corpus id).
    *
    * Scale: band join is an equi-join on (band, band-hash) — postings-
    * shaped, never batch × corpus. The store is 32 longs/doc; batches
    * sign once and compare against candidates only. The estimate's ±1.96
    * /√32 ≈ 0.17 std error at J=0.5 is the price of never re-reading
    * corpus text; tighten with more permutations, or run
    * [[Extensions4.incrementalDedup]] when exactness matters more than
    * the storage cut.
    */
  def incrementalSignatureDedup(
      corpusSigs: DataFrame, batchSigs: DataFrame,
      threshold: Double = 0.5): DataFrame = {
    // each signature table feeds two consumers (band explode + verdict
    // join); AQE exchange reuse already shares the 32-way min agg across
    // them (verified: forcing a materialization here measures SLOWER),
    // and steady-state callers pass a stored table anyway
    val matches = (0 until Extensions.MinhashPerms)
      .map(i => when(col(s"c.h$i") === col(s"b.h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val cand = banded(corpusSigs, "c_id").as("cb")
      .join(banded(batchSigs, "b_id").as("bb"),
        col("cb.band") === col("bb.band") && col("cb.bh") === col("bb.bh"))
      .select(col("c_id"), col("b_id")).distinct()
    val w = Window.partitionBy(col("b_id"))
      .orderBy(col("est_jaccard").desc, col("c_id"))
    val best = cand
      .join(corpusSigs.as("c"), col("c_id") === col("c.doc_id"))
      .join(batchSigs.as("b"), col("b_id") === col("b.doc_id"))
      .select(col("b_id"), col("c_id"),
        Extensions.round4o(matches / Extensions.MinhashPerms.toDouble)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("b_id"), col("c_id").as("dup_of"), col("est_jaccard"))
    batchSigs.select(col("doc_id").as("b_id"))
      .join(best, Seq("b_id"), "left_outer")
      .select(col("b_id"), col("dup_of").isNull.as("keep"),
        col("dup_of"), col("est_jaccard"))
  }

  /** x67: [[incrementalSignatureDedup]] — fixture docs >= 450 as the
    * batch against the < 450 corpus signature store (the x30 split,
    * signature-only).
    */
  def x67SignatureDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    incrementalSignatureDedup(
      minhashSignatures(d.filter(col("doc_id") < 450), "doc_id", "text"),
      minhashSignatures(d.filter(col("doc_id") >= 450), "doc_id", "text"),
      threshold = 0.5)
  }

  /** DuckDB replay: identical signature, band, and estimate arithmetic
    * over the two document sets.
    */
  private[ops] def x67OracleSql: String = {
    import Extensions.{MinhashPerms, LshBands, LshP, ShingleP, permA, permB}
    val mins = (0 until MinhashPerms)
      .map(i => s"min((${permA(i)} * shx + ${permB(i)}) % $LshP) AS h$i")
      .mkString(",\n                   ")
    val rows = MinhashPerms / LshBands
    def bandsOf(sig: String): String = (0 until LshBands).map { bnd =>
      val cols = (bnd * rows until (bnd + 1) * rows).map(i => s"h$i").mkString(", ")
      s"SELECT doc_id, $bnd AS band, concat_ws(':', $cols) AS bh FROM $sig"
    }.mkString("\n                UNION ALL ")
    val matchSum = (0 until MinhashPerms)
      .map(i => s"CASE WHEN c.h$i = b.h$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      hx AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % $ShingleP AS shx FROM sh),
      sig AS (SELECT doc_id, $mins
              FROM hx GROUP BY doc_id),
      csig AS (SELECT * FROM sig WHERE doc_id < 450),
      bsig AS (SELECT * FROM sig WHERE doc_id >= 450),
      cbands AS (${bandsOf("csig")}),
      bbands AS (${bandsOf("bsig")}),
      cand AS (SELECT DISTINCT c.doc_id AS c_id, b.doc_id AS b_id
               FROM cbands c JOIN bbands b ON c.band = b.band AND c.bh = b.bh),
      est AS (SELECT cand.b_id, cand.c_id,
                     round(($matchSum) * 10000.0 / $MinhashPerms, 0) / 10000.0 AS est_jaccard
              FROM cand JOIN csig c ON c.doc_id = cand.c_id
                        JOIN bsig b ON b.doc_id = cand.b_id),
      best AS (SELECT b_id, c_id AS dup_of, est_jaccard,
                      row_number() OVER (PARTITION BY b_id
                        ORDER BY est_jaccard DESC, c_id) AS rk
               FROM est WHERE est_jaccard >= 0.5)
      SELECT bsig.doc_id AS b_id, best.dup_of IS NULL AS keep,
             best.dup_of, best.est_jaccard
      FROM bsig LEFT JOIN (SELECT * FROM best WHERE rk = 1) best
        ON bsig.doc_id = best.b_id
      ORDER BY b_id"""
  }

  /** x76: [[SignatureStore]] serving path — dedup the >= 450 batch
    * against the < 450 corpus store through the PRUNED read. Same
    * semantics (and same oracle) as x67; what this entry adds to the
    * gate is the store path: layout, partition pruning, and the
    * denormalized verdict all sit under a value-level hash compare.
    * The corpus store is a [[FixtureCache]] entry over `documents`: the
    * steady-state shape is many batches against one long-lived store.
    */
  def x76SignatureStoreDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val path = FixtureCache.store(s, dir, "documents", "x76-sigstore")(SignatureStore.write(
      minhashSignatures(d.filter(col("doc_id") < 450), "doc_id", "text"), _))
    SignatureStore.dedupAgainstStore(s, path,
      minhashSignatures(d.filter(col("doc_id") >= 450), "doc_id", "text"),
      threshold = 0.5)
  }

  val entries: Seq[Entry] = Seq(
    Entry("x67_signature_dedup", x67SignatureDedup _, x67OracleSql),
    Entry("x76_sigstore_dedup", x76SignatureStoreDedup _, x67OracleSql))
}
