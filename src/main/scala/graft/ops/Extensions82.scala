package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Eighty-second extension batch — how sticky, how often:
  *
  *  - stickiness (x196): DAU/WAU per week — mean daily actives over
  *    the week divided by the week's distinct actives, the engagement
  *    ratio (1.0 = everyone active every day; 1/7 = drive-by). The
  *    x195 decomposition says WHO is new; this says how often anyone
  *    comes back within the week.
  *  - activity-frequency curve (x197): users by number of active days
  *    in the window (the L28-style histogram) with shares and the
  *    reverse-cumulative "at least k days" column — the curve whose
  *    right mass IS the habit.
  *
  * Determinism discipline: both exact counts; stickiness = Σdau /
  * (n_days·wau) renders by one half-away division, histogram shares
  * and reverse cumulatives are grid-table arithmetic.
  */
object Extensions82 {

  // ---- x196: weekly stickiness -------------------------------------------------

  /** Per week: Σ daily actives over the week's observed days, the
    * week's distinct actives, and stickiness = Σdau/(n_days·wau).
    * Output: (week, n_days, dau_sum, wau, stickiness).
    *
    * Scale: one (user, day) distinct; week rollups are hash-aggs of
    * that table (dau via (day) counts summed per week, wau via
    * (user, week) distinct counts).
    */
  def stickiness(
      events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val ud = Extensions.materialized(events
      .select(col(userCol).as("u"),
        to_date(date_trunc("day", col(tsCol))).as("d"))
      .distinct()
      .withColumn("w", to_date(date_trunc("week", col("d")))))
    val daily = ud.groupBy(col("w"), col("d")).agg(count(lit(1)).as("dau"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_days"),
        sum(col("dau")).as("dau_sum"))
    val weekly = ud.select(col("w"), col("u")).distinct()
      .groupBy(col("w")).agg(count(lit(1)).as("wau"))
    daily.join(weekly, Seq("w"))
      .select(date_format(col("w"), "yyyy-MM-dd").as("week"),
        col("n_days"), col("dau_sum"), col("wau"),
        expr("((dau_sum * 10000 * 2 + (n_days * wau)) DIV (2 * (n_days * wau))) / 10000.0D")
          .as("stickiness"))
  }

  /** x196: the fixture's weekly engagement ratio. */
  def x196Stickiness(s: SparkSession, dir: String): DataFrame =
    stickiness(Tables.load(s, dir, "events"), "user_id", "ts")

  private val x196OracleSql: String = """
      WITH ud AS (SELECT DISTINCT user_id AS u,
                    CAST(date_trunc('day', ts) AS DATE) AS d
                  FROM events),
      uw AS (SELECT u, d, CAST(date_trunc('week', d) AS DATE) AS w FROM ud),
      daily AS (SELECT w, count(*) AS dau_sum, count(DISTINCT d) AS n_days
                FROM uw GROUP BY w),
      weekly AS (SELECT w, count(DISTINCT u) AS wau FROM uw GROUP BY w)
      SELECT strftime(d.w, '%Y-%m-%d') AS week, d.n_days, d.dau_sum, wk.wau,
             ((d.dau_sum * 10000 * 2 + (d.n_days * wk.wau))
               // (2 * (d.n_days * wk.wau))) / 10000.0 AS stickiness
      FROM daily d JOIN weekly wk ON wk.w = d.w
      ORDER BY week"""

  // ---- x197: activity-frequency curve ------------------------------------------

  /** Users by active-day count over the whole window: per k =
    * days-active: (days_active, n_users, share, at_least_share) —
    * at_least_share = fraction of users active ≥ k days (the L28
    * right-tail read).
    *
    * Scale: (user, day) distinct → user hash-agg → k-grid hash-agg;
    * windows over the ≤window-length grid only.
    */
  def activityFrequencyCurve(
      events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val perUser = events
      .select(col(userCol).as("u"),
        to_date(date_trunc("day", col(tsCol))).as("d"))
      .distinct()
      .groupBy(col("u")).agg(count(lit(1)).as("k"))
    val grid = perUser.groupBy(col("k")).agg(count(lit(1)).as("n_users"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wGe = Window.orderBy(col("k").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid
      .withColumn("tot", sum(col("n_users")).over(wAll))
      .withColumn("ge", sum(col("n_users")).over(wGe))
      .select(col("k").as("days_active"), col("n_users"),
        expr("((n_users * 10000 * 2 + tot) DIV (2 * tot)) / 10000.0D")
          .as("share"),
        expr("((ge * 10000 * 2 + tot) DIV (2 * tot)) / 10000.0D")
          .as("at_least_share"))
  }

  /** x197: the habit curve of the fixture month. */
  def x197Frequency(s: SparkSession, dir: String): DataFrame =
    activityFrequencyCurve(Tables.load(s, dir, "events"), "user_id", "ts")

  private val x197OracleSql: String = """
      WITH pu AS (SELECT user_id AS u, count(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS k
                  FROM events GROUP BY user_id),
      grid AS (SELECT k, count(*) AS n_users FROM pu GROUP BY k),
      w AS (SELECT *,
              CAST(sum(n_users) OVER () AS BIGINT) AS tot,
              CAST(sum(n_users) OVER (ORDER BY k DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ge
            FROM grid)
      SELECT k AS days_active, n_users,
             ((n_users * 10000 * 2 + tot) // (2 * tot)) / 10000.0 AS share,
             ((ge * 10000 * 2 + tot) // (2 * tot)) / 10000.0 AS at_least_share
      FROM w
      ORDER BY days_active"""

  val entries: Seq[Entry] = Seq(
    Entry("x196_stickiness", x196Stickiness _, x196OracleSql),
    Entry("x197_activity_curve", x197Frequency _, x197OracleSql))
}
