package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Eighty-first extension batch — what a session is worth, who is new
  * today:
  *
  *  - session value card (x194): per-user sessions (the q34 30-minute
  *    gap semantics, tie-broken on event_id) summarized into the
  *    numbers a product review reads — session counts, median/p90
  *    value and duration, events per session.
  *  - DAU decomposition (x195): daily actives split into new (first
  *    day ever) vs returning, with shares — the growth-accounting
  *    daily row (net growth without the split hides churn exactly).
  *
  * Determinism discipline: x194's session values are exact cent sums
  * and durations exact µs; medians/p90s double into half-unit longs
  * (the x139/x155 rule); x195 is exact counts with 4dp divisions.
  */
object Extensions81 {

  // ---- x194: session value card ------------------------------------------------

  /** Summarize 30-minute-gap sessions: one row —
    * (n_sessions, n_users, median_events, median_value, p90_value,
    * median_duration_s, p90_duration_s).
    *
    * Scale: ONE user-key exchange builds sessions (lag + running sum
    * — the q34 shape), one (user, session) hash-agg, then a single
    * reduce carrying five percentile buffers.
    */
  def sessionValueCard(
      events: DataFrame, userCol: String, tsCol: String, valueCol: String,
      idCol: String, gapUs: Long = 30L * 60 * 1000000): DataFrame = {
    val w = Window.partitionBy(col("u")).orderBy(col("t"), col("eid"))
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val sess = events
      .select(col(userCol).as("u"), unix_micros(col(tsCol)).as("t"),
        cents.as("cents"), col(idCol).as("eid"))
      .withColumn("prev", lag(col("t"), 1).over(w))
      .withColumn("ns",
        when(col("prev").isNull || col("t") - col("prev") >= gapUs, 1L)
          .otherwise(0L))
      .withColumn("sid",
        sum(col("ns")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("u"), col("sid"))
      .agg(count(lit(1)).as("ne"), sum(col("cents")).as("v"),
        (max(col("t")) - min(col("t"))).as("dur"))
    sess.agg(
      count(lit(1)).as("n_sessions"),
      count_distinct(col("u")).as("n_users"),
      expr("CAST(round(2.0D * percentile(ne, 0.5D), 0) AS BIGINT)").as("me2"),
      expr("CAST(round(2.0D * percentile(v, 0.5D), 0) AS BIGINT)").as("mv2"),
      expr("CAST(round(2.0D * percentile(v, 0.9D), 0) AS BIGINT)").as("pv2"),
      expr("CAST(round(2.0D * percentile(dur, 0.5D), 0) AS BIGINT)").as("md2"),
      expr("CAST(round(2.0D * percentile(dur, 0.9D), 0) AS BIGINT)").as("pd2"))
      .select(col("n_sessions"), col("n_users"),
        (col("me2") / lit(2.0d)).as("median_events"),
        expr("((mv2 * 10000 * 2 + 200) DIV (2 * 200)) / 10000.0D")
          .as("median_value"),
        expr("((pv2 * 10000 * 2 + 200) DIV (2 * 200)) / 10000.0D")
          .as("p90_value"),
        expr("((md2 * 10000 * 2 + 2000000) DIV (2 * 2000000)) / 10000.0D")
          .as("median_duration_s"),
        expr("((pd2 * 10000 * 2 + 2000000) DIV (2 * 2000000)) / 10000.0D")
          .as("p90_duration_s"))
  }

  /** x194: the fixture's session economy in one row. */
  def x194Sessions(s: SparkSession, dir: String): DataFrame =
    sessionValueCard(Tables.load(s, dir, "events"), "user_id", "ts",
      "value", "event_id")

  private val x194OracleSql: String = """
      WITH base AS (SELECT user_id AS u, epoch_us(ts) AS t,
                      CAST(round(value * 100.0, 0) AS BIGINT) AS cents,
                      event_id AS eid
                    FROM events),
      lg AS (SELECT *, lag(t) OVER (PARTITION BY u ORDER BY t, eid) AS prev
             FROM base),
      ns AS (SELECT *, CASE WHEN prev IS NULL OR t - prev >= 1800000000
                       THEN 1 ELSE 0 END AS nw
             FROM lg),
      sid AS (SELECT *, CAST(sum(nw) OVER (PARTITION BY u ORDER BY t, eid
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
              FROM ns),
      sess AS (SELECT u, sid, count(*) AS ne, CAST(sum(cents) AS BIGINT) AS v,
                 CAST(max(t) - min(t) AS BIGINT) AS dur
               FROM sid GROUP BY u, sid),
      agg AS (SELECT count(*) AS n_sessions, count(DISTINCT u) AS n_users,
          CAST(round(2.0 * percentile_cont(0.5) WITHIN GROUP (ORDER BY ne), 0) AS BIGINT) AS me2,
          CAST(round(2.0 * percentile_cont(0.5) WITHIN GROUP (ORDER BY v), 0) AS BIGINT) AS mv2,
          CAST(round(2.0 * percentile_cont(0.9) WITHIN GROUP (ORDER BY v), 0) AS BIGINT) AS pv2,
          CAST(round(2.0 * percentile_cont(0.5) WITHIN GROUP (ORDER BY dur), 0) AS BIGINT) AS md2,
          CAST(round(2.0 * percentile_cont(0.9) WITHIN GROUP (ORDER BY dur), 0) AS BIGINT) AS pd2
        FROM sess)
      SELECT n_sessions, n_users,
             me2 / 2.0 AS median_events,
             ((mv2 * 10000 * 2 + 200) // (2 * 200)) / 10000.0 AS median_value,
             ((pv2 * 10000 * 2 + 200) // (2 * 200)) / 10000.0 AS p90_value,
             ((md2 * 10000 * 2 + 2000000) // (2 * 2000000)) / 10000.0 AS median_duration_s,
             ((pd2 * 10000 * 2 + 2000000) // (2 * 2000000)) / 10000.0 AS p90_duration_s
      FROM agg"""

  // ---- x195: DAU decomposition -------------------------------------------------

  /** Per day: active users split new vs returning (new = the user's
    * first day ever). Output: (day, dau, new_users,
    * returning_users, new_share).
    *
    * Scale: one (user, day) distinct, one user hash-agg for first
    * days (broadcast back as a flag via join on BOTH keys — the
    * first-day row marks itself), one day hash-agg.
    */
  def dauDecomposition(
      events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val ud = Extensions.materialized(events
      .select(col(userCol).as("u"),
        to_date(date_trunc("day", col(tsCol))).as("d"))
      .distinct())
    val firstDay = ud.groupBy(col("u")).agg(min(col("d")).as("fd"))
    ud.join(firstDay, Seq("u"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("dau"),
        sum(when(col("d") === col("fd"), 1L).otherwise(0L)).as("new_users"))
      .withColumn("returning_users", col("dau") - col("new_users"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"),
        col("dau"), col("new_users"), col("returning_users"),
        expr("((new_users * 10000 * 2 + dau) DIV (2 * dau)) / 10000.0D")
          .as("new_share"))
  }

  /** x195: the fixture's growth-accounting daily rows. */
  def x195Dau(s: SparkSession, dir: String): DataFrame =
    dauDecomposition(Tables.load(s, dir, "events"), "user_id", "ts")

  private val x195OracleSql: String = """
      WITH ud AS (SELECT DISTINCT user_id AS u,
                    CAST(date_trunc('day', ts) AS DATE) AS d
                  FROM events),
      fd AS (SELECT u, min(d) AS fd FROM ud GROUP BY u),
      agg AS (SELECT ud.d, count(*) AS dau,
                CAST(sum(CASE WHEN ud.d = fd.fd THEN 1 ELSE 0 END) AS BIGINT) AS new_users
              FROM ud JOIN fd ON fd.u = ud.u
              GROUP BY ud.d)
      SELECT strftime(d, '%Y-%m-%d') AS day, dau, new_users,
             dau - new_users AS returning_users,
             ((new_users * 10000 * 2 + dau) // (2 * dau)) / 10000.0 AS new_share
      FROM agg
      ORDER BY day"""

  val entries: Seq[Entry] = Seq(
    Entry("x194_session_card", x194Sessions _, x194OracleSql),
    Entry("x195_dau_decomposition", x195Dau _, x195OracleSql))
}
