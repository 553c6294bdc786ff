package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** One-hundred-eighteenth extension batch:
  *
  * Theil–Sen robust trend (x266): the median-of-pairwise-slopes
  * estimator (Theil 1950, Sen 1968) next to the least-squares fits the
  * repo already ships (x156 ITS segments, x179 drift/seasonal
  * baselines) — a single outlier day can move an OLS slope arbitrarily;
  * Theil–Sen has a 29.3% breakdown point. Exactness discipline: slopes
  * stay RATIONALS (num, den) — the median is selected by rank over
  * (exact-double value, num, den) where the double is one IEEE division
  * of the same two integers in both engines and the integer pair breaks
  * any double tie — and only the SELECTED median renders to micro via
  * the sign-symmetric half-up form. Lower median for even counts (no
  * rational averaging). Intercept = lower median of the per-point
  * residuals y − slope·t, same discipline over den-scaled integers.
  *
  * Scale shape: the estimator is quadratic in SERIES POINTS by
  * definition — the input contract is an aggregated series (days,
  * buckets), so the pair table is grid²-sized, never corpus-sized; one
  * rank over it selects the median.
  */
object Extensions118 {

  /** One-row Theil–Sen fit of (`tCol` integer, `yCentsCol`): (n_points,
    * n_pairs, slope_micro, intercept_micro_cents).
    *
    * Family sibling: x198 [[Extensions83.theilSenTrend]] — the
    * micro-quantized slope median over daily sums via the percentile
    * buffer; this form keeps slopes as exact rationals and picks the
    * median (and a residual intercept) by rank.
    */
  def theilSen(
      series: DataFrame, tCol: String, yCentsCol: String): DataFrame = {
    val pts = Extensions.materialized(
      series.select(col(tCol).cast("long").as("t"),
        col(yCentsCol).cast("long").as("y")))
    val pairs = pts.as("a").join(pts.as("b"), col("a.t") < col("b.t"))
      .select((col("b.y") - col("a.y")).as("num"),
        (col("b.t") - col("a.t")).as("den"))
    val ranked = pairs
      .withColumn("v", col("num").cast("double") / col("den").cast("double"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("v"), col("num"), col("den"))))
      .withColumn("np", count(lit(1)).over(Window.partitionBy(lit(1))))
    val med = ranked.filter(col("rk") === expr("(np + 1) DIV 2"))
      .select(col("num"), col("den"), col("np"))
    // residuals against the selected rational slope: r = y·den − num·t
    // (den-scaled cents; den > 0 keeps the order)
    val resid = pts.crossJoin(broadcast(med))
      .select((col("y") * col("den") - col("num") * col("t")).as("rn"),
        col("den"), col("num"), col("np"))
    val nPts = Window.partitionBy(lit(1))
    val medResid = resid
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rn"), col("den"))))
      .withColumn("n", count(lit(1)).over(nPts))
      .filter(col("rk") === expr("(n + 1) DIV 2"))
    medResid.select(
      col("n").as("n_points"), col("np").as("n_pairs"),
      expr("""CAST(CASE WHEN num >= 0
           THEN (2 * 1000000 * CAST(num AS DECIMAL(38,0)) + den) DIV (2 * CAST(den AS DECIMAL(38,0)))
           ELSE -((2 * 1000000 * CAST(-num AS DECIMAL(38,0)) + den) DIV (2 * CAST(den AS DECIMAL(38,0)))) END AS BIGINT)""")
        .as("slope_micro"),
      expr("""CAST(CASE WHEN rn >= 0
           THEN (2 * 1000000 * CAST(rn AS DECIMAL(38,0)) + den) DIV (2 * CAST(den AS DECIMAL(38,0)))
           ELSE -((2 * 1000000 * CAST(-rn AS DECIMAL(38,0)) + den) DIV (2 * CAST(den AS DECIMAL(38,0)))) END AS BIGINT)""")
        .as("intercept_micro_cents"))
  }

  /** x266: robust daily-revenue trend — day index from the epoch day,
    * y = per-day purchase cents (the x262 series, fitted instead of
    * split).
    */
  def x266TheilSen(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(expr(
        "unix_micros(date_trunc('DAY', ts)) DIV 86400000000").as("t"))
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("y"))
    theilSen(daily, "t", "y")
  }

  private val x266OracleSql: String = """
      WITH daily AS (
        SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS t,
               sum(CAST(round(value * 100, 0) AS BIGINT)) AS y
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
      pairs AS (
        SELECT b.y - a.y AS num, b.t - a.t AS den
        FROM daily a JOIN daily b ON a.t < b.t),
      ranked AS (
        SELECT num, den,
               row_number() OVER (ORDER BY
                 CAST(num AS DOUBLE) / CAST(den AS DOUBLE), num, den) AS rk,
               count(*) OVER () AS np
        FROM pairs),
      med AS (SELECT num, den, np FROM ranked WHERE rk = (np + 1) // 2),
      resid AS (
        SELECT d.y * m.den - m.num * d.t AS rn, m.den, m.num, m.np
        FROM daily d, med m),
      mr AS (
        SELECT *, row_number() OVER (ORDER BY rn, den) AS rk,
               count(*) OVER () AS n
        FROM resid)
      SELECT CAST(n AS BIGINT) AS n_points, CAST(np AS BIGINT) AS n_pairs,
             CAST(CASE WHEN num >= 0
               THEN (2 * 1000000 * CAST(num AS HUGEINT) + den) // (2 * CAST(den AS HUGEINT))
               ELSE -((2 * 1000000 * CAST(-num AS HUGEINT) + den) // (2 * CAST(den AS HUGEINT)))
               END AS BIGINT) AS slope_micro,
             CAST(CASE WHEN rn >= 0
               THEN (2 * 1000000 * CAST(rn AS HUGEINT) + den) // (2 * CAST(den AS HUGEINT))
               ELSE -((2 * 1000000 * CAST(-rn AS HUGEINT) + den) // (2 * CAST(den AS HUGEINT)))
               END AS BIGINT) AS intercept_micro_cents
      FROM mr WHERE rk = (n + 1) // 2"""

  // ---- x267: Mann–Kendall trend test ---------------------------------------------

  /** Mann–Kendall trend test (Mann 1945, Kendall 1975) — the
    * significance HALF of the Theil–Sen pairing: MK decides whether a
    * monotone trend exists (its S statistic is the sign-sum of exactly
    * the pairs x266 takes slopes over), Theil–Sen estimates its size.
    * Nonparametric — no distributional assumption the OLS t-test needs.
    *
    * Exact integers through the variance: S = Σ_{i<j} sign(y_j − y_i);
    * var·18 = n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5) stays integral (the
    * tie correction is the part naive implementations drop); the only
    * floats are one sqrt and one division for
    * z = (S − sign(S)) / sqrt(var), rounded 4dp — same expression order
    * both engines. Output: (n_points, s_stat, var18, z).
    */
  def mannKendall(
      series: DataFrame, tCol: String, yCentsCol: String): DataFrame = {
    val pts = Extensions.materialized(
      series.select(col(tCol).cast("long").as("t"),
        col(yCentsCol).cast("long").as("y")))
    val s = pts.as("a").join(pts.as("b"), col("a.t") < col("b.t"))
      .agg(sum(signum(col("b.y") - col("a.y")).cast("long")).as("s"))
    val ties = pts.groupBy(col("y")).agg(count(lit(1)).as("tc"))
      .agg(sum(expr("tc * (tc - 1) * (2 * tc + 5)")).as("tie18"),
        count(lit(1)).as("ng"), sum(col("tc")).as("n"))
    s.crossJoin(broadcast(ties))
      .select(col("n").as("n_points"), col("s").as("s_stat"),
        expr("n * (n - 1) * (2 * n + 5) - tie18").as("var18"),
        // all-tied series has zero variance: no test to run, z := 0
        when(expr("n * (n - 1) * (2 * n + 5) - tie18") > 0L,
          round(
            (col("s") - signum(col("s")).cast("long")).cast("double")
              / sqrt(expr("(n * (n - 1) * (2 * n + 5) - tie18) / 18.0")), 4))
          .otherwise(0.0).as("z"))
  }

  /** x267: is the daily purchase-revenue trend significant? Same series
    * as x266; read z against ±1.96 for the 5% two-sided level.
    */
  def x267MannKendall(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(expr(
        "unix_micros(date_trunc('DAY', ts)) DIV 86400000000").as("t"))
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("y"))
    mannKendall(daily, "t", "y")
  }

  private val x267OracleSql: String = """
      WITH daily AS (
        SELECT epoch_us(date_trunc('day', ts)) // 86400000000 AS t,
               sum(CAST(round(value * 100, 0) AS BIGINT)) AS y
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
      sp AS (SELECT CAST(sum(sign(b.y - a.y)) AS BIGINT) AS s
             FROM daily a JOIN daily b ON a.t < b.t),
      ties AS (SELECT CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie18,
                      CAST(sum(tc) AS BIGINT) AS n
               FROM (SELECT count(*) AS tc FROM daily GROUP BY y))
      SELECT n AS n_points, s AS s_stat,
             n * (n - 1) * (2 * n + 5) - tie18 AS var18,
             CASE WHEN n * (n - 1) * (2 * n + 5) - tie18 > 0
               THEN round(CAST(s - CAST(sign(s) AS BIGINT) AS DOUBLE)
                 / sqrt((n * (n - 1) * (2 * n + 5) - tie18) / 18.0), 4)
               ELSE 0.0 END AS z
      FROM sp, ties"""

  val entries: Seq[Entry] = Seq(
    Entry("x266_theil_sen", x266TheilSen _, x266OracleSql),
    Entry("x267_mann_kendall", x267MannKendall _, x267OracleSql))
}
