package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Fifty-third extension batch — structure in the metric stream:
  *
  *  - seasonal decomposition (x138): split a daily metric into trend
  *    (centered 7-day moving average), day-of-week seasonal index, and
  *    residual, flagging residual anomalies — the classical additive
  *    decomposition (Cleveland et al. 1990's STL shape, moving-average
  *    form) that tells x136's "WHEN did it shift" apart from "that's
  *    just Saturday". The anomaly rule |r| > 3·mean|r| reads only
  *    defined-residual days.
  *  - robust outlier report (x139): per-group median/MAD robust
  *    z-scores (Iglewicz & Hoaglin 1993: flag 0.6745·|x−med|/MAD >
  *    3.5) — the outlier gate that, unlike mean/stddev, a single
  *    billing glitch cannot drag toward itself.
  *
  * Determinism discipline: x138 quantizes trend and seasonal to 1e-4
  * dollar units via the sign-split half-away integer division the
  * moment each fraction appears, so residuals and the anomaly
  * comparison |r4|·nd > 3·Σ|r4| are pure long arithmetic; x139 doubles
  * the percentile outputs into half-cent / quarter-cent longs (exact:
  * an order-statistic midpoint of integers is an integer or an exact
  * .5) and the Iglewicz–Hoaglin gate 1349·dev2 > 3500·mad4 compares
  * longs. Headroom: daily sums up to ~9e14 cents stay exact through
  * the ·100·count products.
  */
object Extensions53 {

  // ---- x138: additive seasonal decomposition ----------------------------------

  /** Decompose the daily sum of `valueCol` into trend + day-of-week
    * seasonal + residual:
    *
    *   trend_d    = centered 7-day moving average (NULL unless all 7
    *                days exist — the standard edge contract),
    *   seasonal_w = mean over days of weekday w of (x − trend),
    *   residual_d = x − trend_d − seasonal_{w(d)},
    *   anomaly    = |residual| > 3 · mean|residual|  (defined days).
    *
    * Output (period, value, trend, seasonal, residual, is_anomaly)
    * with trend/seasonal/residual NULL on edge days.
    *
    * Exactness: x is exact cents; trend quantizes to 1e-4 dollar units
    * via halfAway(100·Σ7, 7); seasonal via halfAway(Σ detr4, count) —
    * from there residual and the anomaly inequality are long
    * arithmetic, so the flag cannot drift between engines.
    *
    * Scale: ONE corpus hash-agg to the O(periods) daily table; every
    * window (trend frame, weekday partition, anomaly scalars) runs
    * over that aggregated table only. Weekday classes come from
    * datediff vs a fixed Monday anchor — no locale-dependent dow().
    */
  def seasonalDecompose(
      events: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val daily = events
      .select(date_trunc("day", col(tsCol)).as("period"), cents.as("cents"))
      .groupBy(col("period")).agg(sum(col("cents")).as("x"))
    val w7 = Window.orderBy(col("period")).rowsBetween(-3, 3)
    val trended = daily
      .withColumn("s7", sum(col("x")).over(w7))
      .withColumn("c7", count(col("x")).over(w7))
      // 1970-01-05 is a Monday: dow 0 = Monday in both engines, no dow()
      .withColumn("dow",
        pmod(datediff(col("period"), to_date(lit("1970-01-05"))), lit(7)))
      .withColumn("trend4", when(col("c7") === 7,
        expr("CAST(sign(s7) AS BIGINT) * ((abs(s7) * 100 * 2 + 7) DIV 14)")))
      .withColumn("detr4", col("x") * 100L - col("trend4"))
    val wDow = Window.partitionBy(col("dow"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    trended
      .withColumn("snum", sum(col("detr4")).over(wDow))
      .withColumn("scnt", count(col("detr4")).over(wDow))
      .withColumn("seasonal4", when(col("detr4").isNotNull,
        expr("CAST(sign(snum) AS BIGINT) * ((abs(snum) * 2 + scnt) DIV (2 * scnt))")))
      .withColumn("resid4", col("detr4") - col("seasonal4"))
      .withColumn("nd", count(col("resid4")).over(wAll))
      .withColumn("sab", sum(abs(col("resid4"))).over(wAll))
      .select(date_format(col("period"), "yyyy-MM-dd").as("period"),
        (col("x") / lit(100.0d)).as("value"),
        (col("trend4") / lit(10000.0d)).as("trend"),
        (col("seasonal4") / lit(10000.0d)).as("seasonal"),
        (col("resid4") / lit(10000.0d)).as("residual"),
        coalesce(abs(col("resid4")) * col("nd") > lit(3L) * col("sab"),
          lit(false)).as("is_anomaly"))
  }

  /** x138: daily revenue decomposition over the events fixture. */
  def x138Seasonal(s: SparkSession, dir: String): DataFrame =
    seasonalDecompose(Tables.load(s, dir, "events"), "ts", "value")

  private val x138OracleSql: String = """
      WITH daily AS (
        SELECT date_trunc('day', ts) AS period,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1),
      tr AS (SELECT period, x,
               CAST(sum(x) OVER (ORDER BY period
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS s7,
               CAST(count(x) OVER (ORDER BY period
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS c7,
               datediff('day', DATE '1970-01-05', CAST(period AS DATE)) % 7 AS dow
             FROM daily),
      t4 AS (SELECT *, CASE WHEN c7 = 7 THEN
               CAST(sign(s7) AS BIGINT) * ((abs(s7) * 100 * 2 + 7) // 14)
               END AS trend4
             FROM tr),
      d4 AS (SELECT *, x * 100 - trend4 AS detr4 FROM t4),
      se AS (SELECT *,
               CAST(sum(detr4) OVER (PARTITION BY dow) AS BIGINT) AS snum,
               CAST(count(detr4) OVER (PARTITION BY dow) AS BIGINT) AS scnt
             FROM d4),
      s4 AS (SELECT *, CASE WHEN detr4 IS NOT NULL THEN
               CAST(sign(snum) AS BIGINT) * ((abs(snum) * 2 + scnt) // (2 * scnt))
               END AS seasonal4
             FROM se),
      r4 AS (SELECT *, detr4 - seasonal4 AS resid4 FROM s4),
      fin AS (SELECT *,
                CAST(count(resid4) OVER () AS BIGINT) AS nd,
                CAST(sum(abs(resid4)) OVER () AS BIGINT) AS sab
              FROM r4)
      SELECT strftime(period, '%Y-%m-%d') AS period,
             x / 100.0 AS value,
             trend4 / 10000.0 AS trend,
             seasonal4 / 10000.0 AS seasonal,
             resid4 / 10000.0 AS residual,
             coalesce(abs(resid4) * nd > 3 * sab, false) AS is_anomaly
      FROM fin
      ORDER BY period"""

  // ---- x139: robust median/MAD outlier report ---------------------------------

  /** Per-group robust outlier report over `valueCol` (exact cents):
    * median, MAD (median absolute deviation), and the count/fraction
    * of rows whose Iglewicz–Hoaglin modified z-score exceeds 3.5
    * (0.6745·|x − med|/MAD > 3.5 ⇔ 1349·dev2 > 3500·mad4 in long
    * units). MAD = 0 (a majority-constant group) degrades to "any
    * deviation is an outlier" — the standard fallback, documented
    * rather than NaN.
    *
    * Output (group, n, median, mad, n_outliers, outlier_frac).
    *
    * Exactness: medians of integer cents are exact order-statistic
    * midpoints — doubling them into half-cent (med2) and quarter-cent
    * (mad4) longs removes the only fraction; the gate compares longs.
    *
    * Scale: the row table materializes once; each pass is a ≤groups
    * hash-agg (percentile is a partial-aggregated order-statistic
    * buffer — no sort of the corpus) with the tiny per-group model
    * broadcast back. No window ever touches row-level data.
    */
  def robustOutliers(
      rel: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val base = Extensions.materialized(
      rel.select(col(groupCol).as("g"),
        round(col(valueCol) * 100.0d, 0).cast("long").as("cents")))
    val med = base.groupBy(col("g")).agg(
      expr("CAST(round(2.0D * percentile(cents, 0.5D), 0) AS BIGINT)").as("med2"),
      count(lit(1)).as("n"))
    val dev = base.join(broadcast(med), Seq("g"))
      .withColumn("dev2", abs(col("cents") * 2L - col("med2")))
    val mad = dev.groupBy(col("g")).agg(
      expr("CAST(round(2.0D * percentile(dev2, 0.5D), 0) AS BIGINT)").as("mad4"))
    dev.join(broadcast(mad), Seq("g"))
      .withColumn("is_out",
        when(col("mad4") > 0L, lit(1349L) * col("dev2") > lit(3500L) * col("mad4"))
          .otherwise(col("dev2") > 0L))
      .groupBy(col("g")).agg(
        first(col("n")).as("n"),
        first(col("med2")).as("med2"),
        first(col("mad4")).as("mad4"),
        sum(when(col("is_out"), 1L).otherwise(0L)).as("n_outliers"))
      .select(col("g").as("group_key"), col("n"),
        (col("med2") / lit(200.0d)).as("median"),
        (col("mad4") / lit(400.0d)).as("mad"),
        col("n_outliers"),
        Extensions.round4o(col("n_outliers") / col("n")).as("outlier_frac"))
  }

  /** x139: robust outlier report of event values per event type. */
  def x139Outliers(s: SparkSession, dir: String): DataFrame =
    robustOutliers(Tables.load(s, dir, "events"), "event_type", "value")

  private val x139OracleSql: String = """
      WITH base AS (
        SELECT event_type AS g,
               CAST(round(value * 100.0, 0) AS BIGINT) AS cents
        FROM events),
      med AS (SELECT g,
                CAST(round(2.0 * percentile_cont(0.5) WITHIN GROUP (ORDER BY cents), 0) AS BIGINT) AS med2,
                count(*) AS n
              FROM base GROUP BY g),
      dev AS (SELECT base.g, abs(base.cents * 2 - med.med2) AS dev2,
                med.med2, med.n
              FROM base JOIN med USING (g)),
      mad AS (SELECT g,
                CAST(round(2.0 * percentile_cont(0.5) WITHIN GROUP (ORDER BY dev2), 0) AS BIGINT) AS mad4
              FROM dev GROUP BY g),
      fl AS (SELECT dev.g, dev.n, dev.med2, mad.mad4,
               CASE WHEN mad.mad4 > 0 THEN 1349 * dev.dev2 > 3500 * mad.mad4
                    ELSE dev.dev2 > 0 END AS is_out
             FROM dev JOIN mad USING (g))
      SELECT g AS group_key, n,
             med2 / 200.0 AS median,
             mad4 / 400.0 AS mad,
             CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             round(sum(CASE WHEN is_out THEN 1 ELSE 0 END) * 1.0 / n * 10000.0, 0)
               / 10000.0 AS outlier_frac
      FROM fl
      GROUP BY g, n, med2, mad4
      ORDER BY group_key"""

  val entries: Seq[Entry] = Seq(
    Entry("x138_seasonal", x138Seasonal _, x138OracleSql),
    Entry("x139_robust_outliers", x139Outliers _, x139OracleSql))
}
