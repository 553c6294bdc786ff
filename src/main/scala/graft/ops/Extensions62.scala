package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables
import graft.functions.HashFunctions

/** Sixty-second extension batch — what the intervention did, without
  * assuming normality:
  *
  *  - interrupted time series (x156): fit the pre-period linear trend,
  *    extrapolate it as the counterfactual, and read the intervention's
  *    effect as actual − predicted per day plus the running cumulative
  *    (the Box & Tiao 1975 shape, OLS form) — x136 says WHERE the
  *    series shifted; this prices WHAT the shift was worth.
  *  - Mann–Whitney rank-sum (x157): the nonparametric A/B test — U
  *    from average ranks with full tie correction, computed off the
  *    VALUE GRID (distinct metric values + per-arm counts), so no
  *    row-level rank window ever exists. The robust sibling of x151:
  *    winsorization tames the whale; rank-sum ignores it entirely.
  *
  * Determinism discipline: x156's predictions stay rational — pred·den
  * = a_num + b_num·t with exact long moments, rendered by ONE
  * sign-split half-away division; effects and cumulative effects are
  * then 4dp-unit long arithmetic. x157 doubles average ranks into
  * integers (2·rank is exact under ties), so U and its mean are exact
  * longs; the variance/z step is one shared double expression.
  */
object Extensions62 {

  // ---- x156: interrupted time series -------------------------------------------

  /** Pre-period OLS trend extrapolated across the intervention: daily
    * sums of `valueCol` (exact cents), day index t from the first
    * period; the fit uses days strictly BEFORE `interventionDay`.
    * Output per day: (period, actual, predicted, effect,
    * cum_effect, is_post) — predicted/effect 4dp; cum_effect runs over
    * post days only (NULL pre); requires ≥ 2 distinct pre days.
    *
    * Exactness: slope/intercept stay as exact long numerators over the
    * shared denominator den = n·Stt − St² — pred(t)·den = a_num +
    * b_num·t is long arithmetic, so predicted renders via ONE
    * sign-split half-away division and effect/cum_effect are exact
    * 4dp-unit longs. Headroom: moments carry ~cents·days² — exact to
    * ~1e14 daily cents over a year.
    *
    * Scale: one corpus hash-agg to O(periods); the fit is a 1-row
    * aggregate broadcast back; windows run over the period table only.
    */
  def interruptedTimeSeries(
      events: DataFrame, tsCol: String, valueCol: String,
      interventionDay: String): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val daily = events
      .select(to_date(date_trunc("day", col(tsCol))).as("period"),
        cents.as("cents"))
      .groupBy(col("period")).agg(sum(col("cents")).as("x"))
    val t0 = daily.agg(min(col("period")).as("d0"))
    val idx = daily.crossJoin(broadcast(t0))
      .withColumn("t", datediff(col("period"), col("d0")).cast("long"))
      .withColumn("post", col("period") >= to_date(lit(interventionDay)))
    // width audit (r12): x = daily cents (~1e13 at 100 TB volume), so
    // Σ t·x and the bnum/anum cross products wrap a long (st·sx alone
    // ≈ 7e23) — those run in DECIMAL(38,0). den = n·stt − st² stays
    // long (pure day-index arithmetic, ≤ ~2e14 at a 10-year series),
    // which keeps the DIV in pred4 long-typed on the denominator side.
    val fit = idx.filter(!col("post")).agg(
      count(lit(1)).as("n"),
      sum(col("t")).as("st"), sum(col("x")).as("sx"),
      sum(col("t") * col("t")).as("stt"),
      sum(col("t").cast("decimal(38,0)") * col("x")).as("stx"))
      .select(col("n"),
        (col("n") * col("stx")
          - col("st").cast("decimal(38,0)") * col("sx")).as("bnum"),
        (col("sx").cast("decimal(38,0)") * col("stt")
          - col("st") * col("stx")).as("anum"),
        (col("n") * col("stt") - col("st") * col("st")).as("den"))
    val wPost = Window.orderBy(col("period"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    idx.crossJoin(broadcast(fit))
      .withColumn("pred4", when(col("den") > 0L, expr(
        "CAST(sign(anum + bnum * t) AS BIGINT) * ((abs(anum + bnum * t) * 100 * 2 + den) DIV (2 * den))")))
      .withColumn("eff4", col("x") * 100L - col("pred4"))
      .withColumn("cum4",
        when(col("post"), sum(when(col("post"), col("eff4")).otherwise(0L))
          .over(wPost)))
      .select(date_format(col("period"), "yyyy-MM-dd").as("period"),
        (col("x") / lit(100.0d)).as("actual"),
        (col("pred4") / lit(10000.0d)).as("predicted"),
        (col("eff4") / lit(10000.0d)).as("effect"),
        (col("cum4") / lit(10000.0d)).as("cum_effect"),
        col("post").as("is_post"))
  }

  /** x156: what did the (synthetic) mid-month intervention do to daily
    * revenue? Pre-trend fit on days before 2024-01-16.
    */
  def x156Its(s: SparkSession, dir: String): DataFrame =
    interruptedTimeSeries(Tables.load(s, dir, "events"), "ts", "value",
      "2024-01-16")

  private val x156OracleSql: String = """
      WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS period,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1),
      t0 AS (SELECT min(period) AS d0 FROM daily),
      idx AS (SELECT period, x,
                CAST(datediff('day', t0.d0, period) AS BIGINT) AS t,
                period >= DATE '2024-01-16' AS post
              FROM daily, t0),
      fit AS (SELECT count(*) AS n,
                CAST(sum(t) AS BIGINT) AS st, CAST(sum(x) AS BIGINT) AS sx,
                CAST(sum(t * t) AS BIGINT) AS stt,
                CAST(sum(t * x) AS BIGINT) AS stx
              FROM idx WHERE NOT post),
      co AS (SELECT n, n * stx - st * sx AS bnum,
                    sx * stt - st * stx AS anum,
                    n * stt - st * st AS den
             FROM fit),
      pr AS (SELECT idx.*, co.den,
               CASE WHEN co.den > 0 THEN
                 CAST(sign(co.anum + co.bnum * idx.t) AS BIGINT)
                   * ((abs(co.anum + co.bnum * idx.t) * 100 * 2 + co.den) // (2 * co.den))
               END AS pred4
             FROM idx, co),
      ef AS (SELECT *, x * 100 - pred4 AS eff4 FROM pr),
      cm AS (SELECT *, CASE WHEN post THEN
               CAST(sum(CASE WHEN post THEN eff4 ELSE 0 END) OVER (ORDER BY period
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               END AS cum4
             FROM ef)
      SELECT strftime(period, '%Y-%m-%d') AS period,
             x / 100.0 AS actual,
             pred4 / 10000.0 AS predicted,
             eff4 / 10000.0 AS effect,
             cum4 / 10000.0 AS cum_effect,
             post AS is_post
      FROM cm
      ORDER BY period"""

  // ---- x157: Mann–Whitney rank-sum test ----------------------------------------

  /** Mann–Whitney U over per-user metric sums with the md5 arm split:
    * ranks come from the VALUE GRID — per distinct metric value v,
    * avg-rank·2 = 2·(count below v) + count(v) + 1 exactly — so the
    * rank-sum, U, and its null mean are exact longs under arbitrary
    * ties. Output one row: (n_control, n_treatment, u_statistic, z)
    * with the tie-corrected normal approximation
    * Var = n1·n2·((N+1)·N·(N−1) − Σ(t³−t)) / (12·N·(N−1)).
    *
    * Exactness: everything through U·2 and ΣT = Σ(t³−t) is long
    * arithmetic (tie cubes exact to tie sizes ~2e6); the z step is one
    * shared double expression — identical in both engines. z NULL when
    * either arm is empty or the variance vanishes (all values tied).
    *
    * Scale: one user hash-agg, one value-grid hash-agg, cumulative
    * counts via [[GridStats.rankSumReduce]]'s distributed prefix sum
    * (round-14: the unpartitioned grid window this op carried is gone),
    * a 1-row reduce. No row-level rank window — the classic rank test
    * without the global sort.
    *
    * Kernel sibling: x323 [[Extensions142.mannWhitneyU]] — same
    * [[GridStats.rankSumReduce]], explicit two-group input contract and
    * micro-scaled z instead of the md5 arm split and 4dp here.
    */
  def mannWhitney(
      events: DataFrame, userCol: String, valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val perUser = events
      .select(col(userCol).as("user_id"), cents.as("cents"))
      .groupBy(col("user_id")).agg(sum(col("cents")).as("y"))
      .withColumn("c1",
        when(pmod(HashFunctions.md5_bucket60(col("user_id").cast("string")),
          lit(2L)) === 0L, 1L).otherwise(0L))
    val grid = perUser.groupBy(col("y")).agg(
        sum(col("c1")).as("nc"), sum(lit(1L) - col("c1")).as("nt"))
      .withColumn("ctot", col("nc") + col("nt"))
    val red = GridStats.rankSumReduce(grid, "y", "nc", "ctot")
      .withColumnRenamed("na", "n1").withColumnRenamed("nb", "n2")
      .withColumnRenamed("r2a", "r1x2").withColumnRenamed("ties", "tsum")
    red
      // r1x2/tsum ride DECIMAL out of the kernel; the n1·(n1+1) and
      // n1·n2 compositions join them there (they wrap a long past ~3e9
      // users a side) — the z chain is double either way
      .withColumn("u2",
        col("r1x2") - col("n1").cast("decimal(38,0)") * (col("n1") + 1L))
      .withColumn("nn", col("n1") + col("n2"))
      .withColumn("vpos",
        (col("n1") + col("n2") + 1L).cast("double") * (col("n1") + col("n2"))
          * (col("n1") + col("n2") - 1L) - col("tsum"))
      .withColumn("z", when(col("n1") > 0L && col("n2") > 0L && col("vpos") > 0.0d,
        Extensions.round4o(
          (col("u2") - col("n1").cast("decimal(38,0)") * col("n2")).cast("double") /
            (lit(2.0d) * sqrt(
              col("n1").cast("double") * col("n2") *
                ((col("nn") + 1L).cast("double") * col("nn") * (col("nn") - 1L)
                  - col("tsum")) /
                (lit(12.0d) * col("nn") * (col("nn") - 1L)))))))
      .select(col("n1").as("n_control"), col("n2").as("n_treatment"),
        (col("u2") / lit(2.0d)).cast("double").as("u_statistic"), col("z"))
  }

  /** x157: rank-sum A/A on the events fixture (|z| should be modest). */
  def x157MannWhitney(s: SparkSession, dir: String): DataFrame =
    mannWhitney(Tables.load(s, dir, "events"), "user_id", "value")

  private val x157OracleSql: String = """
      WITH pu AS (SELECT user_id,
                    CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS y,
                    CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 = 0
                         THEN 1 ELSE 0 END AS c1
                  FROM events GROUP BY user_id),
      grid AS (SELECT y, CAST(sum(c1) AS BIGINT) AS nc,
                      CAST(sum(1 - c1) AS BIGINT) AS nt
               FROM pu GROUP BY y),
      rk AS (SELECT *,
               CAST(coalesce(sum(nc + nt) OVER (ORDER BY y
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below
             FROM grid),
      ar AS (SELECT *, 2 * below + nc + nt + 1 AS ar2, nc + nt AS tie FROM rk),
      red AS (SELECT CAST(sum(nc) AS BIGINT) AS n1, CAST(sum(nt) AS BIGINT) AS n2,
                CAST(sum(nc * ar2) AS BIGINT) AS r1x2,
                CAST(sum(tie * tie * tie - tie) AS BIGINT) AS tsum
              FROM ar),
      uu AS (SELECT *, r1x2 - n1 * (n1 + 1) AS u2, n1 + n2 AS nn FROM red)
      SELECT n1 AS n_control, n2 AS n_treatment,
             u2 / 2.0 AS u_statistic,
             CASE WHEN n1 > 0 AND n2 > 0
                   AND (CAST(nn + 1 AS DOUBLE) * nn * (nn - 1) - tsum) > 0 THEN
               round(CAST(u2 - n1 * n2 AS DOUBLE)
                 / (2.0 * sqrt(CAST(n1 AS DOUBLE) * n2
                     * (CAST(nn + 1 AS DOUBLE) * nn * (nn - 1) - tsum)
                     / (12.0 * nn * (nn - 1)))) * 10000.0, 0) / 10000.0
             END AS z
      FROM uu"""

  val entries: Seq[Entry] = Seq(
    Entry("x156_its", x156Its _, x156OracleSql),
    Entry("x157_mann_whitney", x157MannWhitney _, x157OracleSql))
}
