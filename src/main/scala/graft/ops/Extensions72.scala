package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Seventy-second extension batch — is the arrival process Poisson,
  * when does the load land:
  *
  *  - overdispersion check (x176): the variance-to-mean dispersion
  *    index of daily event counts per type (Fisher's index; = 1 under
  *    Poisson) — the alarm that says bursty/clumped arrivals before
  *    anyone fits a queueing model on a Poisson fantasy. Pairs with
  *    x136/x138: those find WHERE the level moved; this says the
  *    process itself isn't memoryless.
  *  - hourly load profile (x177): events per hour-of-day per type with
  *    shares and the peak hour — the capacity-planning heat row.
  *
  * Determinism discipline: both are exact counts; x176's index is one
  * exact rational (n·Σc² − (Σc)²)/((n−1)·Σc) rendered by half-away
  * division, and its flag compares integers (num·10 > 12·den);
  * x177's peak ties to the earliest hour.
  */
object Extensions72 {

  // ---- x176: overdispersion check ----------------------------------------------

  /** Dispersion index of daily counts per group: days with zero events
    * for a group count as 0 (the day spine comes from the GLOBAL
    * period range, so a type absent on a quiet day is a real zero).
    * index = s²/x̄ = (n·Σc² − (Σc)²)/((n−1)·Σc); `overdispersed` flags
    * index > 1.2 by exact integer comparison. Output per group:
    * (group_key, n_days, mean_per_day, dispersion_index,
    * overdispersed).
    *
    * Scale: one (group, day) hash-agg; the zero-day adjustment is by
    * COUNT (Σc/Σc² unchanged by zeros — only n changes, taken from the
    * global day count), so no dense group×day materialization.
    */
  def overdispersionCheck(
      events: DataFrame, groupCol: String, tsCol: String): DataFrame = {
    val daily = events
      .select(col(groupCol).as("g"),
        to_date(date_trunc("day", col(tsCol))).as("d"))
      .groupBy(col("g"), col("d")).agg(count(lit(1)).as("c"))
    val nDays = events
      .select(to_date(date_trunc("day", col(tsCol))).as("d")).distinct()
      .agg(count(lit(1)).as("nd"))
    // width audit (r12): c = events per (group, day) — a group taking
    // 1e8+ events/day wraps Σc² and nd·Σc² − (Σc)² in long arithmetic;
    // the square moment and inum run in DECIMAL(38,0) (bound: 3650
    // days · 1e20 ≈ 4e23 < 1e38). s1 stays long (≤ total group events).
    daily.groupBy(col("g")).agg(
      sum(col("c")).as("s1"),
      sum(col("c").cast("decimal(38,0)") * col("c")).as("s2"))
      .crossJoin(broadcast(nDays))
      .withColumn("inum", col("nd") * col("s2")
        - col("s1").cast("decimal(38,0)") * col("s1"))
      .withColumn("iden", (col("nd") - 1L) * col("s1"))
      .select(col("g").as("group_key"), col("nd").as("n_days"),
        expr("((s1 * 10000 * 2 + nd) DIV (2 * nd)) / 10000.0D")
          .as("mean_per_day"),
        when(col("iden") > 0L,
          expr("((inum * 10000 * 2 + iden) DIV (2 * iden)) / 10000.0D"))
          .as("dispersion_index"),
        coalesce(col("inum") * 10L > col("iden") * 12L, lit(false))
          .as("overdispersed"))
  }

  /** x176: are the fixture's event arrivals Poisson-like per type? */
  def x176Overdispersion(s: SparkSession, dir: String): DataFrame =
    overdispersionCheck(Tables.load(s, dir, "events"), "event_type", "ts")

  private val x176OracleSql: String = """
      WITH daily AS (
        SELECT event_type AS g, CAST(date_trunc('day', ts) AS DATE) AS d,
               count(*) AS c
        FROM events GROUP BY 1, 2),
      nd AS (SELECT count(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS nd
             FROM events),
      agg AS (SELECT g, CAST(sum(c) AS BIGINT) AS s1,
                CAST(sum(c * c) AS BIGINT) AS s2
              FROM daily GROUP BY g),
      x AS (SELECT g, nd, s1, s2,
              nd * s2 - s1 * s1 AS inum, (nd - 1) * s1 AS iden
            FROM agg, nd)
      SELECT g AS group_key, nd AS n_days,
             ((s1 * 10000 * 2 + nd) // (2 * nd)) / 10000.0 AS mean_per_day,
             CASE WHEN iden > 0 THEN
               ((inum * 10000 * 2 + iden) // (2 * iden)) / 10000.0
             END AS dispersion_index,
             coalesce(inum * 10 > iden * 12, false) AS overdispersed
      FROM x
      ORDER BY group_key"""

  // ---- x177: hourly load profile -----------------------------------------------

  /** Events per hour-of-day per group: count, share of the group's
    * events, and the group's peak hour flagged (ties → earliest hour).
    * Output: (group_key, hour, n, share,
    * is_peak).
    *
    * Scale: one hash-agg to ≤ groups·24 rows; shares and the peak come
    * from windows over that table.
    */
  def hourlyLoadProfile(
      events: DataFrame, groupCol: String, tsCol: String): DataFrame = {
    val cells = events
      .select(col(groupCol).as("g"), hour(col(tsCol)).cast("long").as("h"))
      .groupBy(col("g"), col("h")).agg(count(lit(1)).as("n"))
    val wG = Window.partitionBy(col("g"))
    cells
      .withColumn("tot", sum(col("n")).over(wG))
      .withColumn("mx", max(col("n")).over(wG))
      .withColumn("peak_h", min(when(col("n") === col("mx"), col("h"))).over(wG))
      .select(col("g").as("group_key"), col("h").as("hour"), col("n"),
        expr("((n * 10000 * 2 + tot) DIV (2 * tot)) / 10000.0D").as("share"),
        (col("h") === col("peak_h")).as("is_peak"))
  }

  /** x177: the hourly heat row per event type. */
  def x177HourlyLoad(s: SparkSession, dir: String): DataFrame =
    hourlyLoadProfile(Tables.load(s, dir, "events"), "event_type", "ts")

  private val x177OracleSql: String = """
      WITH cells AS (
        SELECT event_type AS g, CAST(hour(ts) AS BIGINT) AS h, count(*) AS n
        FROM events GROUP BY 1, 2),
      w AS (SELECT *,
              CAST(sum(n) OVER (PARTITION BY g) AS BIGINT) AS tot,
              CAST(max(n) OVER (PARTITION BY g) AS BIGINT) AS mx
            FROM cells),
      p AS (SELECT *, min(CASE WHEN n = mx THEN h END)
              OVER (PARTITION BY g) AS peak_h
            FROM w)
      SELECT g AS group_key, h AS hour, n,
             ((n * 10000 * 2 + tot) // (2 * tot)) / 10000.0 AS share,
             h = peak_h AS is_peak
      FROM p
      ORDER BY group_key, hour"""

  val entries: Seq[Entry] = Seq(
    Entry("x176_overdispersion", x176Overdispersion _, x176OracleSql),
    Entry("x177_hourly_load", x177HourlyLoad _, x177OracleSql))
}
