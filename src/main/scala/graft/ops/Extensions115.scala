package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** One-hundred-fifteenth extension batch:
  *
  *  - Binary-segmentation changepoint (x262): the level-shift LOCATOR
    *  next to the drift DETECTORS — x136 CUSUM flags that a mean
    *  drifted, x156 ITS estimates the effect of a KNOWN break, x138
    *  removes seasonality; none answers "where did the level change?".
    *  Binary segmentation's first step (Scott & Knott 1974, the CBS
    *  family): pick the split k maximizing the between-segment SSE
    *  reduction n_l·n_r/n·(ȳ_l − ȳ_r)², which reduces on prefix sums to
    *  maximizing (S_k·n − S·k)²/(n·k·(n−k)) — one window pass over the
    *  aggregated series, exact in DECIMAL(38,0)/HUGEINT (num² stays
    *  < 1e38 for cents·points < 1e19 — corpus-scale series aggregate
    *  to grids long before that).
  *
  * Determinism: y quantizes to integer cents per point before any sum;
  * the gain is an exact integer; argmax ties break earliest t.
  */
object Extensions115 {

  // ---- x262: binary-segmentation changepoint ----------------------------------

  /** Best single level-shift split of an ordered series (`tCol` asc,
    * integer `yCentsCol`): the k in [1, n−1] maximizing the
    * between-segment SSE reduction, ties earliest. One row:
    * (split_t, n_left, n_right, mean_left_micro, mean_right_micro,
    * gain) where `gain` = (S_k·n − S·k)² DIV (n·k·(n−k)) in cents² and
    * split_t is the LAST point of the left segment.
    *
    * Scale shape: the input is an aggregated series (days, hours,
    * buckets) — the unpartitioned prefix-sum window rides that grid,
    * never raw rows; the argmax is an orderBy-limit-1 on the grid.
    */
  def changepoint(
      series: DataFrame, tCol: String, yCentsCol: String): DataFrame = {
    val w = Window.orderBy(col("t"))
    val n1 = Window.partitionBy(lit(1))
    val cum = series.select(col(tCol).as("t"), col(yCentsCol).as("y"))
      .withColumn("k", row_number().over(w).cast("long"))
      .withColumn("sk", sum(col("y")).over(w))
      .withColumn("n", count(lit(1)).over(n1))
      .withColumn("s", sum(col("y")).over(n1))
      .filter(col("k") < col("n"))
    cum
      .withColumn("num", expr("CAST(sk AS DECIMAL(38,0)) * n - CAST(s AS DECIMAL(38,0)) * k"))
      .withColumn("gain", expr(
        "CAST((num * num) DIV (CAST(n AS DECIMAL(38,0)) * k * (n - k)) AS BIGINT)"))
      .orderBy(col("gain").desc, col("t"))
      .limit(1)
      .select(col("t").as("split_t"),
        col("k").as("n_left"), (col("n") - col("k")).as("n_right"),
        expr("""CAST(CASE WHEN sk >= 0
             THEN (2 * 1000000 * CAST(sk AS DECIMAL(38,0)) + k) DIV (2 * CAST(k AS DECIMAL(38,0)))
             ELSE -((2 * 1000000 * CAST(-sk AS DECIMAL(38,0)) + k) DIV (2 * CAST(k AS DECIMAL(38,0)))) END AS BIGINT)""")
          .as("mean_left_micro"),
        expr("""CAST(CASE WHEN s - sk >= 0
             THEN (2 * 1000000 * CAST(s - sk AS DECIMAL(38,0)) + (n - k)) DIV (2 * CAST(n - k AS DECIMAL(38,0)))
             ELSE -((2 * 1000000 * CAST(sk - s AS DECIMAL(38,0)) + (n - k)) DIV (2 * CAST(n - k AS DECIMAL(38,0)))) END AS BIGINT)""")
          .as("mean_right_micro"),
        col("gain"))
  }

  /** x262: where did daily purchase revenue shift level? The series is
    * the per-day purchase cents total over the events fixture.
    */
  def x262Changepoint(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("day", col("ts")).as("t"))
      .agg(sum(round(col("value") * 100, 0).cast("long")).as("y"))
    changepoint(daily, "t", "y")
  }

  private val x262OracleSql: String = """
      WITH daily AS (
        SELECT date_trunc('day', ts) AS t,
               sum(CAST(round(value * 100, 0) AS BIGINT)) AS y
        FROM events WHERE event_type = 'purchase' GROUP BY 1),
      cum AS (
        SELECT t, y,
               CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS k,
               sum(y) OVER (ORDER BY t) AS sk,
               count(*) OVER () AS n,
               sum(y) OVER () AS s
        FROM daily),
      g AS (
        SELECT *,
               CAST(sk AS HUGEINT) * n - CAST(s AS HUGEINT) * k AS num
        FROM cum WHERE k < n),
      scored AS (
        SELECT *,
               CAST((num * num) // (CAST(n AS HUGEINT) * k * (n - k)) AS BIGINT) AS gain
        FROM g)
      SELECT t AS split_t, k AS n_left, CAST(n - k AS BIGINT) AS n_right,
             CAST(CASE WHEN sk >= 0
               THEN (2 * 1000000 * CAST(sk AS HUGEINT) + k) // (2 * CAST(k AS HUGEINT))
               ELSE -((2 * 1000000 * CAST(-sk AS HUGEINT) + k) // (2 * CAST(k AS HUGEINT)))
               END AS BIGINT) AS mean_left_micro,
             CAST(CASE WHEN s - sk >= 0
               THEN (2 * 1000000 * CAST(s - sk AS HUGEINT) + (n - k)) // (2 * CAST(n - k AS HUGEINT))
               ELSE -((2 * 1000000 * CAST(sk - s AS HUGEINT) + (n - k)) // (2 * CAST(n - k AS HUGEINT)))
               END AS BIGINT) AS mean_right_micro,
             gain
      FROM scored
      ORDER BY gain DESC, t
      LIMIT 1"""

  val entries: Seq[Entry] = Seq(
    Entry("x262_changepoint", x262Changepoint _, x262OracleSql))
}
