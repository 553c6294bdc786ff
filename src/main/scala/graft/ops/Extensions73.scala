package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Seventy-third extension batch — the churn constant, the forecast
  * floor:
  *
  *  - churn-rate fit (x178): fit ln(retention_k) = c + k·ln(1−churn)
  *    over weekly activity offsets from each user's first event — the
  *    geometric-decay constant behind every LTV projection (the x86
  *    triangle DESCRIBES retention; this compresses it to the one
  *    number a forecast consumes).
  *  - forecast baseline card (x179): MAE of the naive (yesterday) and
  *    seasonal-naive (last week) forecasts on the daily series, plus
  *    their MASE ratio (Hyndman & Koehler 2006) — the floor any real
  *    forecasting model must beat, and the honest first question of
  *    every forecasting project.
  *
  * Determinism discipline: x178 micro-quantizes each ln(r_k) before
  * the OLS moment sums (the x129 rule); x179 is exact cents end to
  * end — both MAEs share the SAME eval range so the MASE is one
  * half-away division of exact sums, and the winner flag compares
  * longs.
  */
object Extensions73 {

  // ---- x178: churn-rate fit ----------------------------------------------------

  /** Geometric churn fit: r_k = cohort users active in week k after
    * their first event / cohort size, for k = 1..`maxK`; OLS of micro-
    * quantized ln(r_k) on k gives slope = ln(1−churn). Output one row:
    * (n_points, r_1, slope, weekly_churn, r2) — churn = 1 − e^slope,
    * NULL when fewer than 2 non-zero points survive.
    *
    * Censoring: the cohort is restricted to users whose first event is
    * at least `maxK + 1` weeks before the end of the log — a user whose
    * history is right-censored at week j < k CANNOT appear in week k,
    * so counting them in the denominator biases every r_k (and the
    * fitted churn) upward. The gate is maxK+1 (not maxK) weeks because
    * week maxK spans [maxK·w, (maxK+1)·w): a user admitted at exactly
    * end − maxK·w has week maxK merely STARTED, not fully observed, so
    * r_maxK — one of only maxK fit points — would still be right-
    * censored low. Every r_k therefore divides by users whose full
    * [maxK·w, (maxK+1)·w) window lies inside the log.
    *
    * Scale: one user hash-agg pins first events; a 1-row max-ts agg
    * broadcast gates the cohort; one (user, offset) distinct + offset
    * hash-agg builds the K-row retention vector; the OLS touches K
    * rows.
    */
  def churnRateFit(
      events: DataFrame, userCol: String, tsCol: String,
      maxK: Int = 3): DataFrame = {
    // width audit (r12): the OLS composition np·Σlr² runs in longs with
    // |lr| ≤ ~2.3e7 (micro-ln of a 1-in-1e10 retention ratio) — exact
    // while np ≤ ~128 weeks; the bound is enforced rather than assumed
    require(maxK >= 2 && maxK <= 128,
      s"churnRateFit: maxK=$maxK exceeds the exact-integer OLS window (128 weeks)")
    val weekUs = 604800000000L
    val maxTs = events.agg(max(unix_micros(col(tsCol))).as("end_us"))
    val firstTs = events.groupBy(col(userCol).as("u"))
      .agg(min(col(tsCol)).as("first_ts"))
      .crossJoin(broadcast(maxTs))
      .filter(unix_micros(col("first_ts")) <=
        col("end_us") - lit((maxK + 1).toLong * weekUs))
      .select(col("u"), col("first_ts"))
    val nUsers = firstTs.agg(count(lit(1)).as("nu"))
    val active = events.select(col(userCol).as("u"), col(tsCol).as("ts"))
      .join(firstTs, Seq("u"))
      .select(col("u"),
        floor((unix_micros(col("ts")) - unix_micros(col("first_ts"))) /
          lit(604800000000L)).cast("long").as("k"))
      .filter(col("k") >= 1L && col("k") <= maxK.toLong)
      .distinct()
    val rk = active.groupBy(col("k")).agg(count(lit(1)).as("a"))
      .crossJoin(broadcast(nUsers))
      .filter(col("a") > 0L)
      .select(col("k"), col("a"), col("nu"),
        round(lit(1e6) * log(col("a") / col("nu")), 0).cast("long").as("lr"))
    val mom = rk.agg(count(lit(1)).as("np"),
      sum(col("k")).as("sk"), sum(col("lr")).as("sl"),
      sum(col("k") * col("k")).as("skk"),
      sum(col("k") * col("lr")).as("skl"),
      sum(col("lr") * col("lr")).as("sll"),
      max(when(col("k") === 1L,
        expr("((a * 10000 * 2 + nu) DIV (2 * nu)) / 10000.0D"))).as("r1"))
    val num = (col("np") * col("skl") - col("sk") * col("sl")).cast("double")
    val den = (col("np") * col("skk") - col("sk") * col("sk")).cast("double")
    mom.select(col("np").as("n_points"), col("r1").as("r_1"),
      Extensions.round4o(try_divide(num, den) / lit(1e6)).as("slope"),
      Extensions.round4o(lit(1.0d) -
        exp(try_divide(num, den) / lit(1e6))).as("weekly_churn"),
      Extensions.round4o(try_divide(num * num,
        den * (col("np") * col("sll") - col("sl") * col("sl")))).as("r2"))
  }

  /** x178: the fixture's weekly churn constant. */
  def x178Churn(s: SparkSession, dir: String): DataFrame =
    churnRateFit(Tables.load(s, dir, "events"), "user_id", "ts")

  private val x178OracleSql: String = """
      WITH mx AS (SELECT max(epoch_us(ts)) AS end_us FROM events),
      ft AS (SELECT user_id AS u, min(ts) AS first_ts
             FROM events GROUP BY user_id),
      coh AS (SELECT ft.u, ft.first_ts FROM ft, mx
              WHERE epoch_us(ft.first_ts) <= mx.end_us - 4 * 604800000000),
      nu AS (SELECT count(*) AS nu FROM coh),
      act AS (SELECT DISTINCT e.user_id AS u,
                CAST(floor((epoch_us(e.ts) - epoch_us(coh.first_ts))
                  / 604800000000.0) AS BIGINT) AS k
              FROM events e JOIN coh ON coh.u = e.user_id),
      rk AS (SELECT k, count(*) AS a FROM act
             WHERE k >= 1 AND k <= 3 GROUP BY k),
      pts AS (SELECT k, a, nu.nu,
                CAST(round(1e6 * ln(a * 1.0 / nu.nu), 0) AS BIGINT) AS lr
              FROM rk, nu WHERE a > 0),
      mom AS (SELECT count(*) AS np,
                CAST(sum(k) AS BIGINT) AS sk, CAST(sum(lr) AS BIGINT) AS sl,
                CAST(sum(k * k) AS BIGINT) AS skk,
                CAST(sum(k * lr) AS BIGINT) AS skl,
                CAST(sum(lr * lr) AS BIGINT) AS sll,
                max(CASE WHEN k = 1
                    THEN ((a * 10000 * 2 + nu) // (2 * nu)) / 10000.0 END) AS r1
              FROM pts)
      SELECT np AS n_points, r1 AS r_1,
             CASE WHEN np * skk - sk * sk <> 0 THEN
               round(CAST(np * skl - sk * sl AS DOUBLE) / (np * skk - sk * sk)
                     / 1e6 * 10000.0, 0) / 10000.0 END AS slope,
             CASE WHEN np * skk - sk * sk <> 0 THEN
               round((1.0 - exp(CAST(np * skl - sk * sl AS DOUBLE)
                     / (np * skk - sk * sk) / 1e6)) * 10000.0, 0) / 10000.0 END AS weekly_churn,
             CASE WHEN (np * skk - sk * sk) * (np * sll - sl * sl) <> 0 THEN
               round((CAST(np * skl - sk * sl AS DOUBLE) * (np * skl - sk * sl))
                     / (CAST(np * skk - sk * sk AS DOUBLE) * (np * sll - sl * sl))
                     * 10000.0, 0) / 10000.0 END AS r2
      FROM mom"""

  // ---- x179: forecast baseline card --------------------------------------------

  /** MAE of the naive (x_{d−1}) and seasonal-naive (x_{d−7}) one-step
    * forecasts over the SHARED eval range (days with both lags
    * defined), and MASE = MAE_snaive / MAE_naive. Output one row:
    * (n_eval_days, mae_naive, mae_snaive7, mase, seasonal_better) —
    * the winner flag compares exact sums.
    *
    * Scale: one corpus hash-agg to O(periods); lags and sums are
    * windows/aggregates over that table.
    */
  def forecastBaselineCard(
      events: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val daily = events
      .select(to_date(date_trunc("day", col(tsCol))).as("d"), cents.as("c"))
      .groupBy(col("d")).agg(sum(col("c")).as("x"))
    val w = Window.orderBy(col("d"))
    val lagged = daily
      .withColumn("l1", lag(col("x"), 1).over(w))
      .withColumn("l7", lag(col("x"), 7).over(w))
      .filter(col("l1").isNotNull && col("l7").isNotNull)
    // overflow guard (x209 discipline): ss*20000 wraps once the summed
    // |daily delta| cents pass 4.6e14 — and unlike a per-cell share
    // this numerator GROWS with eval-range length, so a multi-year
    // planet-scale series can actually get there. sc floors both
    // operands identically: 1 below the bound (bit-identical
    // arithmetic, same oracle hash), O(sc/sn) ~ 1e-14 error above it.
    lagged.agg(
      count(lit(1)).as("n_eval_days"),
      sum(abs(col("x") - col("l1"))).as("sn"),
      sum(abs(col("x") - col("l7"))).as("ss"))
      .withColumn("sc", expr("greatest(ss, sn) DIV 460000000000000 + 1"))
      .select(col("n_eval_days"),
        expr("((sn * 100 * 2 + n_eval_days) DIV (2 * n_eval_days)) / 10000.0D")
          .as("mae_naive"),
        expr("((ss * 100 * 2 + n_eval_days) DIV (2 * n_eval_days)) / 10000.0D")
          .as("mae_snaive7"),
        // divisor clamp: sc is sized from greatest(ss, sn), so when ss
        // drives sc while sn is small, (sn DIV sc) can floor to 0 and the
        // sn > 0 guard would still promise a value — greatest(..., 1)
        // keeps the division defined (identical bits whenever sn DIV sc
        // >= 1, i.e. everywhere below the overflow bound)
        when(col("sn") > 0L,
          expr("(((ss DIV sc) * 10000 * 2 + greatest(sn DIV sc, 1)) DIV (2 * greatest(sn DIV sc, 1))) / 10000.0D")).as("mase"),
        (col("ss") < col("sn")).as("seasonal_better"))
  }

  /** x179: which naive baseline should a revenue forecast beat? */
  def x179Baselines(s: SparkSession, dir: String): DataFrame =
    forecastBaselineCard(Tables.load(s, dir, "events"), "ts", "value")

  private val x179OracleSql: String = """
      WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1),
      lg AS (SELECT d, x,
               lag(x, 1) OVER (ORDER BY d) AS l1,
               lag(x, 7) OVER (ORDER BY d) AS l7
             FROM daily),
      ev AS (SELECT * FROM lg WHERE l1 IS NOT NULL AND l7 IS NOT NULL),
      agg AS (SELECT count(*) AS n,
                CAST(sum(abs(x - l1)) AS BIGINT) AS sn,
                CAST(sum(abs(x - l7)) AS BIGINT) AS ss
              FROM ev),
      g AS (SELECT *, greatest(ss, sn) // 460000000000000 + 1 AS sc FROM agg)
      SELECT n AS n_eval_days,
             ((sn * 100 * 2 + n) // (2 * n)) / 10000.0 AS mae_naive,
             ((ss * 100 * 2 + n) // (2 * n)) / 10000.0 AS mae_snaive7,
             CASE WHEN sn > 0 THEN (((ss // sc) * 10000 * 2 + greatest(sn // sc, 1)) // (2 * greatest(sn // sc, 1))) / 10000.0 END AS mase,
             ss < sn AS seasonal_better
      FROM g"""

  val entries: Seq[Entry] = Seq(
    Entry("x178_churn_fit", x178Churn _, x178OracleSql),
    Entry("x179_forecast_baselines", x179Baselines _, x179OracleSql))
}
