package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Hundredth extension batch — the LSH geometry, measured:
  *
  *  - LSH geometry audit (x228): the pinned 8-band × 4-row MinHash
  *    geometry's MEASURED precision and recall against exact-Jaccard
  *    ground truth, per threshold. x118 predicts recall from the
  *    collision polynomial BEFORE a run; this measures what the
  *    geometry actually did at calibration scale — precision is the
  *    verification bill (candidates that fail the exact check are pure
  *    wasted Jaccard work), recall is the miss rate. The pair of
  *    numbers that says whether to re-factor bands×rows before the
  *    100 TB run.
  *
  * Determinism discipline: candidates and truth both ride the exact
  * portable chains (x03 signatures, x02 Jaccard with
  * 4dp-round-before-threshold); the curve is conditional integer sums
  * against a broadcast spine, shares half-away.
  */
object Extensions100 {

  /** Per threshold t: true pairs (exact Jaccard ≥ t), LSH candidates
    * (any shared band, fixed at calibration), candidates that are true
    * pairs, precision = caught/candidates and recall = caught/truth.
    * Output: (threshold, n_truth, n_candidates, n_caught,
    * precision, recall).
    *
    * Scale: this is the CALIBRATION tool — the truth chain is the
    * full inverted-index pair join, run at calibration SF (the 100 TB
    * run uses only the geometry this audit approves). Candidates come
    * from the band-bucket join (graph-sized); the sweep is conditional
    * sums over O(truth ∪ candidates) rows.
    */
  def lshGeometryAudit(
      corpus: DataFrame, idCol: String, textCol: String,
      thresholds: Seq[Double] = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)): DataFrame = {
    require(thresholds.nonEmpty)
    val spark = corpus.sparkSession
    import spark.implicits._
    val minT = thresholds.min
    // r15 (guide §2.2/§2.3): ONE corpus tokenization feeds BOTH legs.
    // The truth chain rides the lossless prefix filter (the x158/x293
    // routing — identical pairs and identical round-4 jaccard, probe-
    // measured 1.9 s vs 3.3 s for the full-index join at θ=0.3), and
    // the MinHash signatures hash the SAME materialized token sets
    // (md5Hash60 per distinct shingle, exactly shingleIndexKeyedOf's
    // arithmetic) instead of re-tokenizing through a second index build.
    val tNum = math.round(minT * 100000.0) - 5L
    val tDen = 100000L
    val sets = Extensions.materialized(
      Extensions111.tokenSets(corpus, idCol, textCol, shingleSize = 5))
    val truth = Extensions.materialized(
      Extensions111.prefixCandidates(sets, tNum, tDen)
        .join(sets.select(col("doc_id").as("doc_a"), col("tk").as("tka"),
          col("sz").as("na")), Seq("doc_a"))
        .join(sets.select(col("doc_id").as("doc_b"), col("tk").as("tkb"),
          col("sz").as("nb")), Seq("doc_b"))
        .withColumn("shared",
          size(array_intersect(col("tka"), col("tkb"))).cast("long"))
        .filter(col("shared") * lit(tDen) >=
          lit(tNum) * (col("na") + col("nb") - col("shared")))
        .select(col("doc_a"), col("doc_b"),
          Extensions.round4o(
            col("shared") / (col("na") + col("nb") - col("shared")))
            .as("jaccard")))
    val idxFromSets = sets
      .select(col("doc_id"), explode(col("tk")).as("sh"))
      .select(col("doc_id"), Extensions.md5Hash60Native(col("sh")).as("shk"))
    val sig = Extensions.minhashSignaturesFrom(idxFromSets)
    val bandCols = (0 until Extensions.LshBands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws(":", (bnd * 4 until (bnd + 1) * 4).map(i => col(s"h$i")): _*).as("bh"))
    }
    val banded = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.bh").as("bh"))
    val cand = Extensions.materialized(banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct())
    val nCand = cand.agg(count(lit(1)).as("n_candidates"))
    val flagged = truth.join(
      cand.withColumn("caught", lit(true)), Seq("doc_a", "doc_b"), "left_outer")
      .select(col("jaccard"), coalesce(col("caught"), lit(false)).as("caught"))
    val spine = thresholds.map(t => BigDecimal(t).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble).toDF("threshold")
    flagged.crossJoin(broadcast(spine))
      .groupBy(col("threshold"))
      .agg(sum(when(col("jaccard") >= col("threshold"), 1L).otherwise(0L)).as("n_truth"),
        sum(when(col("jaccard") >= col("threshold") && col("caught"), 1L)
          .otherwise(0L)).as("n_caught"))
      .crossJoin(broadcast(nCand))
      .select(col("threshold"), col("n_truth"), col("n_candidates"), col("n_caught"),
        when(col("n_candidates") > 0L,
          expr("((n_caught * 10000 * 2 + n_candidates) DIV (2 * n_candidates)) / 10000.0D"))
          .as("precision"),
        when(col("n_truth") > 0L,
          expr("((n_caught * 10000 * 2 + n_truth) DIV (2 * n_truth)) / 10000.0D"))
          .as("recall"))
  }

  /** x228: what the pinned 8×4 geometry actually buys on the fixture. */
  def x228LshAudit(s: SparkSession, dir: String): DataFrame =
    lshGeometryAudit(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x228OracleSql: String = {
    import Extensions.{MinhashPerms, permA, permB, LshP, ShingleP, LshBands}
    val mins = (0 until MinhashPerms)
      .map(i => s"min((${permA(i)} * shx + ${permB(i)}) % $LshP) AS h$i")
      .mkString(",\n                   ")
    val bands = (0 until LshBands)
      .map { bnd =>
        val cols = (bnd * 4 until (bnd + 1) * 4).map(i => s"h$i").mkString(", ")
        s"SELECT doc_id, $bnd AS band, concat_ws(':', $cols) AS bh FROM sig"
      }
      .mkString("\n                UNION ALL ")
    val ts = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9).map(t => s"($t)").mkString(", ")
    s"""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      truth AS (SELECT doc_a, doc_b,
                  round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard
                FROM prs
                JOIN cnt ca ON ca.doc_id = doc_a
                JOIN cnt cb ON cb.doc_id = doc_b
                WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.3),
      hx AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % $ShingleP AS shx FROM sh),
      sig AS (SELECT doc_id, $mins
              FROM hx GROUP BY doc_id),
      bands AS ($bands),
      cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
               FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
      nc AS (SELECT count(*) AS n_candidates FROM cand),
      fl AS (SELECT t.jaccard,
               EXISTS (SELECT 1 FROM cand c
                       WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b) AS caught
             FROM truth t),
      sp AS (SELECT round(t, 4) AS threshold FROM UNNEST([$ts]) AS u(t)),
      g AS (SELECT sp.threshold,
              CAST(sum(CASE WHEN fl.jaccard >= sp.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
              CAST(sum(CASE WHEN fl.jaccard >= sp.threshold AND fl.caught THEN 1 ELSE 0 END) AS BIGINT) AS n_caught
            FROM fl CROSS JOIN sp
            GROUP BY sp.threshold)
      SELECT g.threshold, g.n_truth, nc.n_candidates, g.n_caught,
             CASE WHEN nc.n_candidates > 0 THEN
               ((g.n_caught * 10000 * 2 + nc.n_candidates) // (2 * nc.n_candidates)) / 10000.0 END AS precision,
             CASE WHEN g.n_truth > 0 THEN
               ((g.n_caught * 10000 * 2 + g.n_truth) // (2 * g.n_truth)) / 10000.0 END AS recall
      FROM g, nc
      ORDER BY g.threshold"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x228_lsh_geometry", x228LshAudit _, x228OracleSql))
}
