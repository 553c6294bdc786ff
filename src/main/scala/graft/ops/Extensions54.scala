package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Fifty-fourth extension batch — sharpening the trained gate:
  *
  *  - isotonic calibration (x140): turn the x94 classifier's raw
  *    confidence into honest probabilities with the pool-adjacent-
  *    violators fit (Zadrozny & Elkan 2002) — computed closed-form via
  *    the minimax identity iso(k) = max_{i≤k} min_{j≥k} mean(i..j)
  *    over the aggregated score grid, so no iterative merging and no
  *    driver loop. The x120 ECE report says HOW miscalibrated; this is
  *    the operator that FIXES it.
  *  - chi-square token selection (x141): which tokens actually carry
  *    the quality signal? Per-token 2×2 chi-square against the Gopher
  *    keep label (the fastText-era feature-selection step) — the audit
  *    behind the x94 hashed bag-of-words: if the top tokens look like
  *    markup residue, the classifier learned the extractor, not the
  *    language.
  *
  * Determinism discipline: x140's grid means p/n are IEEE doubles of
  * exact longs; rounding is monotone, so min/max over the rounded
  * values IS the rounded minimax — bit-identical across engines with
  * zero float drift possible. x141 keeps a/b/c/d/delta exact longs and
  * casts to double only for the one guarded division, with identical
  * parenthesization in both engines; ties in the top-k break on the
  * token string.
  */
object Extensions54 {

  // ---- x140: isotonic calibration (PAV via minimax) ---------------------------

  /** Isotonic (monotone non-decreasing) calibration map from an exact
    * micro-margin score to P(label=1). Scores quantize to confidence
    * permille (the x120 contract: round(1000·sigmoid(margin/1e6))),
    * the corpus aggregates to the ≤1001-row score grid, and the PAV
    * solution evaluates closed-form on grid pairs:
    *
    *   iso(k) = max_{i≤k} min_{j≥k} (P_j − P_{i−1}) / (N_j − N_{i−1})
    *
    * (the level-set / minimax characterization of isotonic regression
    * — Barlow et al. 1972 §1.2). Output one row per grid point:
    * (conf_permille, n, npos, raw_rate, iso_rate); iso_rate
    * is non-decreasing by construction.
    *
    * Exactness: every mean is fl(p/n) of exact longs; IEEE rounding is
    * monotone, so min/max of the rounded means equals the rounded
    * minimax — the two engines cannot disagree even when two distinct
    * fractions round to the same double.
    *
    * Scale: ONE corpus map pass + hash-agg to the grid; the pair table
    * is grid² ≤ ~1e6 rows — model-sized work independent of corpus
    * size. Windows touch only pair rows.
    */
  def isotonicCalibrate(
      scored: DataFrame, marginCol: String, labelCol: String): DataFrame = {
    val conf = round(lit(1000.0) / (lit(1.0) + exp(-col(marginCol) / lit(1e6))), 0)
      .cast("long")
    val grid = scored
      .select(conf.as("conf"), col(labelCol).cast("long").as("y"))
      .groupBy(col("conf"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
    val wOrd = Window.orderBy(col("conf"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = grid
      .withColumn("k", row_number().over(Window.orderBy(col("conf"))).cast("long"))
      .withColumn("cn", sum(col("n")).over(wOrd))
      .withColumn("cp", sum(col("npos")).over(wOrd))
    val a = pre.select(col("k").as("i"),
      (col("cn") - col("n")).as("n0"), (col("cp") - col("npos")).as("p0"))
    val b = pre.select(col("k").as("j"), col("cn").as("nj"), col("cp").as("pj"))
    val pairs = a.join(b, col("j") >= col("i"))
      .withColumn("avg",
        (col("pj") - col("p0")).cast("double") / (col("nj") - col("n0")))
    val wSuf = Window.partitionBy(col("i")).orderBy(col("j").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val iso = pairs
      .withColumn("sufmin", min(col("avg")).over(wSuf))
      .groupBy(col("j")).agg(max(col("sufmin")).as("iso"))
    pre.join(iso, pre("k") === iso("j"))
      .select(col("conf").as("conf_permille"), col("n"), col("npos"),
        Extensions.round4o(col("npos") / col("n")).as("raw_rate"),
        Extensions.round4o(col("iso")).as("iso_rate"))
  }

  /** x140: isotonic calibration of the x94 fixture classifier (same
    * cached trained weights as x94/x105/x120). Oracle = the x94
    * training replay + the same grid/pair minimax.
    */
  def x140Isotonic(s: SparkSession, dir: String): DataFrame =
    isotonicCalibrate(Extensions26.fixtureScored(s, dir),
      "margin_micro", "label")

  private val x140OracleSql: String = {
    val F1 = Extensions26.NumBuckets + 1
    Extensions26.logregOracleChain(8) + s""",
    scored AS (
      SELECT f.doc_id, f.y AS label,
             CAST(list_sum(list_transform(generate_series(1, $F1), j -> w.w[j] * f.x[j])) AS BIGINT) AS margin
      FROM feat f, w8 w),
    grid AS (SELECT CAST(round(1000.0 / (1.0 + exp(-margin / 1e6)), 0) AS BIGINT) AS conf,
                    count(*) AS n, CAST(sum(label) AS BIGINT) AS npos
             FROM scored GROUP BY 1),
    pre AS (SELECT conf, n, npos,
              CAST(row_number() OVER (ORDER BY conf) AS BIGINT) AS k,
              CAST(sum(n) OVER (ORDER BY conf
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cn,
              CAST(sum(npos) OVER (ORDER BY conf
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp
            FROM grid),
    pairs AS (SELECT a.k AS i, b.k AS j,
                (b.cp - (a.cp - a.npos)) * 1.0 / (b.cn - (a.cn - a.n)) AS avg
              FROM pre a JOIN pre b ON b.k >= a.k),
    suf AS (SELECT i, j,
              min(avg) OVER (PARTITION BY i ORDER BY j DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sufmin
            FROM pairs),
    iso AS (SELECT j, max(sufmin) AS iso FROM suf GROUP BY j)
    SELECT p.conf AS conf_permille, p.n, p.npos,
           round(p.npos * 1.0 / p.n * 10000.0, 0) / 10000.0 AS raw_rate,
           round(iso.iso * 10000.0, 0) / 10000.0 AS iso_rate
    FROM pre p JOIN iso ON p.k = iso.j
    ORDER BY conf_permille"""
  }

  // ---- x141: chi-square token selection ---------------------------------------

  /** Top-`topK` tokens by 2×2 chi-square association with a boolean
    * document label: for token w with a = keep docs containing w,
    * b = drop docs containing w, c/d the complements,
    *
    *   chi2 = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))
    *
    * over DOCUMENT PRESENCE (each token counts once per doc). Output
    * (token, n_docs, n_keep, chi2) ordered by chi2 desc, token —
    * tokens present in every document (c+d = 0) are excluded by the
    * NULL-division guard; `minDf` suppresses one-off noise.
    *
    * Exactness: a/b/c/d and delta = ad − bc are exact longs (delta ≤
    * N² ≤ 9e18 headroom at N ≤ 3e9 docs); the single division runs in
    * doubles with identical parenthesization in both engines, and
    * top-k ties break on the token string.
    *
    * Scale: one explode + (doc, token) distinct hash-agg, one token
    * hash-agg, totals broadcast back; the top-k is a TakeOrdered over
    * ≤vocab rows — no row-level window, no corpus re-scan per token.
    */
  def chiSquareTokens(
      labeled: DataFrame, idCol: String, textCol: String, labelCol: String,
      topK: Int = 50, minDf: Long = 5L): DataFrame = {
    val toks = filter(split(lower(col(textCol)), " "), t => length(t) > 0)
    val docTok = labeled
      .select(col(idCol).as("doc_id"), col(labelCol).cast("long").as("y"),
        explode(toks).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(first(col("y")).as("y"))
    val tot = labeled.agg(
      count(lit(1)).as("n_total"),
      sum(col(labelCol).cast("long")).as("p_total"))
    val perTok = docTok.groupBy(col("token"))
      .agg(count(lit(1)).as("ab"), sum(col("y")).as("a"))
      .filter(col("ab") >= minDf)
    perTok.crossJoin(broadcast(tot))
      .withColumn("b", col("ab") - col("a"))
      .withColumn("c", col("p_total") - col("a"))
      .withColumn("d", col("n_total") - col("p_total") - col("b"))
      .withColumn("delta", col("a") * col("d") - col("b") * col("c"))
      .withColumn("chi2", try_divide(
        col("n_total").cast("double") * (col("delta").cast("double") * col("delta")),
        (col("ab").cast("double") * (col("c") + col("d"))) *
          (col("p_total").cast("double") * (col("n_total") - col("p_total")))))
      .filter(col("chi2").isNotNull)
      .select(col("token"), col("ab").as("n_docs"), col("a").as("n_keep"),
        Extensions.round4o(col("chi2")).as("chi2"))
      .orderBy(col("chi2").desc, col("token"))
      .limit(topK)
  }

  /** x141: top-50 quality-signal tokens of the documents fixture
    * against the x80 Gopher keep label (the same label the x94
    * classifier trains on — this is its feature audit).
    */
  def x141ChiSquare(s: SparkSession, dir: String): DataFrame =
    chiSquareTokens(
      Extensions20.gopherRuleCard(Tables.load(s, dir, "documents"),
        "doc_id", "text", carryCols = Seq("text"))
        .select(col("doc_id"), col("text"), col("keep")),
      "doc_id", "text", "keep")

  private val x141OracleSql: String = """
      WITH d AS (SELECT doc_id, text, string_split(lower(text), ' ') AS tk FROM documents),
      f AS (SELECT doc_id, tk,
                   CAST(len(tk) AS BIGINT) AS n_words,
                   list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS sum_len,
                   len(list_filter(tk, x -> x IN ('the', 'a'))) AS n_stop,
                   CASE WHEN len(tk) >= 2
                        THEN list_transform(generate_series(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i+1])
                        ELSE [] END AS g2
            FROM d),
      r AS (SELECT doc_id, tk, n_words,
                   round(sum_len * 10000.0 / n_words, 0) / 10000.0 AS mean_word_len,
                   round(n_stop * 10000.0 / n_words, 0) / 10000.0 AS stop_ratio,
                   CASE WHEN len(g2) > 0
                        THEN round((len(g2) - len(list_distinct(g2))) * 10000.0 / len(g2), 0) / 10000.0
                        ELSE 0.0 END AS dup2_frac
            FROM f),
      lab AS (SELECT doc_id, tk,
                CASE WHEN (n_words >= 50 AND n_words <= 100000)
                      AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                      AND stop_ratio <= 0.25 AND dup2_frac <= 0.2
                     THEN 1 ELSE 0 END AS y
              FROM r),
      dt AS (SELECT DISTINCT doc_id, u.w AS token, y
             FROM lab, UNNEST(tk) AS u(w) WHERE length(u.w) > 0),
      tot AS (SELECT count(*) AS n_total, CAST(sum(y) AS BIGINT) AS p_total FROM lab),
      pt AS (SELECT token, count(*) AS ab, CAST(sum(y) AS BIGINT) AS a
             FROM dt GROUP BY token HAVING count(*) >= 5),
      ch AS (SELECT token, ab, a, ab - a AS b,
               p_total - a AS c, n_total - p_total - (ab - a) AS d,
               a * (n_total - p_total - (ab - a)) - (ab - a) * (p_total - a) AS delta,
               n_total, p_total
             FROM pt, tot)
      SELECT token, ab AS n_docs, a AS n_keep,
             round((CAST(n_total AS DOUBLE) * (CAST(delta AS DOUBLE) * delta))
                   / ((CAST(ab AS DOUBLE) * (c + d))
                      * (CAST(p_total AS DOUBLE) * (n_total - p_total)))
                   * 10000.0, 0) / 10000.0 AS chi2
      FROM ch
      WHERE (c + d) > 0 AND (n_total - p_total) > 0 AND p_total > 0
      ORDER BY chi2 DESC, token
      LIMIT 50"""

  val entries: Seq[Entry] = Seq(
    Entry("x140_isotonic", x140Isotonic _, x140OracleSql),
    Entry("x141_chi2_tokens", x141ChiSquare _, x141OracleSql))
}
