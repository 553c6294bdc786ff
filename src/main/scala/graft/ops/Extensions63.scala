package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Sixty-third extension batch — tuning the dedup knob, reading the mix:
  *
  *  - dedup threshold calibration (x158): precision/recall/F1 of the
  *    shingle-Jaccard pair detector against a ground-truth dup set,
  *    swept across a threshold grid — the curve that answers "WHERE do
  *    I set the near-dup cutoff" with data instead of folklore. Reuses
  *    [[Extensions.jaccardPairs]] verbatim (one pair computation at
  *    the loosest threshold; the sweep is conditional counting).
  *  - domain mixture card (x159): per-source corpus composition —
  *    doc/token shares, Gopher keep rate, exact-dup rate — the one
  *    table a pretraining-mix decision actually reads (and the input
  *    to x71 DSIR / x79 waterfill reweighting).
  *
  * Determinism discipline: every curve/card number is an exact count
  * with one guarded 4dp division; the Jaccard values feeding the sweep
  * are the x02 contract (rounded 4dp BEFORE thresholding, so a pair
  * cannot straddle a grid point differently in the two engines).
  */
object Extensions63 {

  // ---- x158: dedup threshold calibration curve ---------------------------------

  /** Sweep near-dup thresholds over the shingle-Jaccard pair table:
    * for each θ in `thresholds`, predicted = pairs with jaccard ≥ θ,
    * scored against `truth` (doc_a < doc_b ground-truth dup pairs).
    * Output per θ: (threshold, n_pred, tp, fp, fn, precision,
    * recall, f1) — precision NULL at zero predictions (the honest
    * empty-cell answer), recall/f1 against the full truth set.
    *
    * Scale: ONE pair computation at min(θ) (the x02 inverted-index
    * join — never corpus²); the sweep is |θ| conditional sums over the
    * pair table with a broadcast spine. Adding grid points costs
    * map-side expressions, not pair recomputation.
    */
  def dedupThresholdCurve(
      corpus: DataFrame, idCol: String, textCol: String, truth: DataFrame,
      thresholds: Seq[Double], shingleSize: Int = 5): DataFrame = {
    require(thresholds.nonEmpty && thresholds == thresholds.sorted)
    // r12 re-plan: the pair table now comes from the x253 lossless
    // prefix filter instead of the full x02 index self-join — the sweep
    // runs at min(θ), the LOOSEST threshold, which is exactly where the
    // full index's hot-shingle buckets grow with the corpus (3-point
    // audit read the old plan at fit 1.19). Threshold equivalence is
    // exact (the x167 rule): round4(j) ≥ θ  ⇔  the integer cross-mult
    // at (θ·10^5 − 5)/10^5, so the emitted pairs — and every sweep
    // count — are bit-identical to the x02 form.
    val tNum = math.round(thresholds.min * 100000.0) - 5L
    val cand = Extensions111.prefixFilterJaccardPairs(
        corpus, idCol, textCol, tNum, 100000L, shingleSize)
      .select(col("doc_a"), col("doc_b"), col("jacc").as("jaccard"))
    val flagged = cand.join(
      truth.select(col("doc_a"), col("doc_b")).withColumn("is_true", lit(1L)),
      Seq("doc_a", "doc_b"), "left_outer")
      .na.fill(0L, Seq("is_true"))
    val tTotal = truth.agg(count(lit(1)).as("t_total"))
    val s = corpus.sparkSession
    import s.implicits._
    val spine = thresholds.map(t => math.rint(t * 10000) / 10000.0)
      .toDF("threshold")
    flagged.crossJoin(broadcast(spine))
      .groupBy(col("threshold"))
      .agg(
        sum(when(col("jaccard") >= col("threshold"), 1L).otherwise(0L))
          .as("n_pred"),
        sum(when(col("jaccard") >= col("threshold") && col("is_true") === 1L,
          1L).otherwise(0L)).as("tp"))
      .crossJoin(broadcast(tTotal))
      .withColumn("fp", col("n_pred") - col("tp"))
      .withColumn("fn", col("t_total") - col("tp"))
      .select(col("threshold"), col("n_pred"), col("tp"), col("fp"), col("fn"),
        Extensions.round4o(try_divide(col("tp").cast("double"), col("n_pred")))
          .as("precision"),
        Extensions.round4o(try_divide(col("tp").cast("double"), col("t_total")))
          .as("recall"),
        Extensions.round4o(try_divide(lit(2.0d) * col("tp"),
          lit(2L) * col("tp") + col("fp") + col("fn"))).as("f1"))
  }

  /** x158: calibration against planted near-copies — every doc with
    * id%5==0 gets a copy (id+1000000) with five appended tokens; truth
    * = the (original, copy) pairs. Thresholds 0.3..0.9.
    */
  def x158ThresholdCurve(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    val copies = base.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zz1 zz2 zz3 zz4 zz5")).as("text"))
    val truth = base.filter(pmod(col("doc_id"), lit(5L)) === 0L)
      .select(col("doc_id").as("doc_a"), (col("doc_id") + 1000000L).as("doc_b"))
    dedupThresholdCurve(base.unionAll(copies), "doc_id", "text", truth,
      Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9))
  }

  private val x158OracleSql: String = """
      WITH base AS (SELECT doc_id, text FROM documents),
      corpus AS (SELECT doc_id, text FROM base
                 UNION ALL
                 SELECT doc_id + 1000000, text || ' zz1 zz2 zz3 zz4 zz5'
                 FROM base WHERE doc_id % 5 = 0),
      d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM corpus),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      jac AS (SELECT doc_a, doc_b,
                round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard
              FROM pairs
              JOIN cnt ca ON ca.doc_id = doc_a
              JOIN cnt cb ON cb.doc_id = doc_b
              WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.3),
      truth AS (SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b
                FROM base WHERE doc_id % 5 = 0),
      tt AS (SELECT count(*) AS t_total FROM truth),
      fl AS (SELECT j.*, CASE WHEN t.doc_a IS NULL THEN 0 ELSE 1 END AS is_true
             FROM jac j LEFT JOIN truth t
               ON t.doc_a = j.doc_a AND t.doc_b = j.doc_b),
      spine AS (SELECT u.t / 10.0 AS threshold
                FROM (VALUES (3), (4), (5), (6), (7), (8), (9)) u(t)),
      agg AS (SELECT s.threshold,
                CAST(sum(CASE WHEN f.jaccard >= s.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
                CAST(sum(CASE WHEN f.jaccard >= s.threshold AND f.is_true = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS tp
              FROM fl f CROSS JOIN spine s
              GROUP BY s.threshold)
      SELECT a.threshold, a.n_pred, a.tp,
             a.n_pred - a.tp AS fp,
             tt.t_total - a.tp AS fn,
             round(CASE WHEN a.n_pred > 0 THEN a.tp * 1.0 / a.n_pred END * 10000.0, 0) / 10000.0 AS precision,
             round(a.tp * 1.0 / tt.t_total * 10000.0, 0) / 10000.0 AS recall,
             round(2.0 * a.tp / (2 * a.tp + (a.n_pred - a.tp) + (tt.t_total - a.tp))
                   * 10000.0, 0) / 10000.0 AS f1
      FROM agg a, tt
      ORDER BY a.threshold"""

  // ---- x159: domain mixture card -----------------------------------------------

  /** Per-source corpus composition: doc count + share, token count +
    * share, Gopher keep rate, exact-duplicate rate (1 − distinct
    * texts / docs within the source). Output:
    * (source, n_docs, doc_share, n_tokens, token_share, keep_rate,
    * dup_rate) — every number an exact count with one 4dp division.
    *
    * Scale: the Gopher card runs ONE corpus pass (map-side rule
    * booleans); per-source stats are one hash-agg (the exact-distinct
    * rides the same agg via count_distinct on the text digest);
    * corpus totals come back from a window over the ≤sources table.
    */
  def domainMixtureCard(
      corpus: DataFrame, sourceCol: String, idCol: String,
      textCol: String): DataFrame = {
    val carded = Extensions20.gopherRuleCard(corpus, idCol, textCol,
      carryCols = Seq(sourceCol, textCol))
    val per = carded
      .select(col(sourceCol).as("source"),
        size(filter(split(lower(col(textCol)), " "), t => length(t) > 0))
          .cast("long").as("n_tok"),
        md5(col(textCol)).as("digest"),
        when(col("keep"), 1L).otherwise(0L).as("kp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        count_distinct(col("digest")).as("n_uniq"), sum(col("kp")).as("n_keep"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    per
      .withColumn("td", sum(col("n_docs")).over(wAll))
      .withColumn("tt", sum(col("n_tokens")).over(wAll))
      .select(col("source"), col("n_docs"),
        Extensions.round4o(col("n_docs") / col("td")).as("doc_share"),
        col("n_tokens"),
        Extensions.round4o(col("n_tokens") / col("tt")).as("token_share"),
        Extensions.round4o(col("n_keep") / col("n_docs")).as("keep_rate"),
        Extensions.round4o((col("n_docs") - col("n_uniq")) / col("n_docs"))
          .as("dup_rate"))
  }

  /** x159: the mixture card of the documents fixture by source. */
  def x159MixtureCard(s: SparkSession, dir: String): DataFrame =
    domainMixtureCard(Tables.load(s, dir, "documents"), "source",
      "doc_id", "text")

  private val x159OracleSql: String = """
      WITH d AS (SELECT doc_id, source, text,
                   string_split(lower(text), ' ') AS tk FROM documents),
      f AS (SELECT doc_id, source, text,
                   CAST(len(tk) AS BIGINT) AS n_words,
                   CAST(len(list_filter(tk, t -> length(t) > 0)) AS BIGINT) AS n_tok,
                   list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS sum_len,
                   len(list_filter(tk, x -> x IN ('the', 'a'))) AS n_stop,
                   CASE WHEN len(tk) >= 2
                        THEN list_transform(generate_series(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i+1])
                        ELSE [] END AS g2
            FROM d),
      r AS (SELECT source, text, n_tok, n_words,
                   round(sum_len * 10000.0 / n_words, 0) / 10000.0 AS mean_word_len,
                   round(n_stop * 10000.0 / n_words, 0) / 10000.0 AS stop_ratio,
                   CASE WHEN len(g2) > 0
                        THEN round((len(g2) - len(list_distinct(g2))) * 10000.0 / len(g2), 0) / 10000.0
                        ELSE 0.0 END AS dup2_frac
            FROM f),
      lab AS (SELECT source, n_tok, md5(text) AS digest,
                CASE WHEN (n_words >= 50 AND n_words <= 100000)
                      AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                      AND stop_ratio <= 0.25 AND dup2_frac <= 0.2
                     THEN 1 ELSE 0 END AS kp
              FROM r),
      per AS (SELECT source, count(*) AS n_docs,
                CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                count(DISTINCT digest) AS n_uniq,
                CAST(sum(kp) AS BIGINT) AS n_keep
              FROM lab GROUP BY source),
      t AS (SELECT *, CAST(sum(n_docs) OVER () AS BIGINT) AS td,
                     CAST(sum(n_tokens) OVER () AS BIGINT) AS tt
            FROM per)
      SELECT source, n_docs,
             round(n_docs * 1.0 / td * 10000.0, 0) / 10000.0 AS doc_share,
             n_tokens,
             round(n_tokens * 1.0 / tt * 10000.0, 0) / 10000.0 AS token_share,
             round(n_keep * 1.0 / n_docs * 10000.0, 0) / 10000.0 AS keep_rate,
             round((n_docs - n_uniq) * 1.0 / n_docs * 10000.0, 0) / 10000.0 AS dup_rate
      FROM t
      ORDER BY source"""

  val entries: Seq[Entry] = Seq(
    Entry("x158_threshold_curve", x158ThresholdCurve _, x158OracleSql),
    Entry("x159_mixture_card", x159MixtureCard _, x159OracleSql))
}
