package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Eighty-fifth extension batch — the dashboard alarm and the basket
  * histogram:
  *
  *  - rolling z anomaly series (x201): each day scored against the
  *    trailing window of the previous w OBSERVED days (excluding
  *    itself; a ROWS frame, so calendar gaps are skipped, not
  *    zero-filled) — the ops-dashboard
  *    alarm that needs no seasonal model and reacts on day one. x138
  *    explains anomalies (seasonal vs residual); this is the cheap
  *    monitor that pages first. The |z| > 3 flag is an EXACT integer
  *    comparison.
  *  - basket size profile (x202): orders by item count with shares
  *    and per-size average order value — the retail histogram behind
  *    every "items per order" conversation.
  *
  * Determinism discipline: x201's flag multiplies longs —
  * (n·x − S)²·(n−1) > 9·n·(n·S2 − S²) — so paging cannot drift; the
  * rendered z is one shared double. x202 is exact counts/cents with
  * half-away renders.
  */
object Extensions85 {

  // ---- x201: rolling z anomaly series ------------------------------------------

  /** Per day: x, trailing mean over the previous `window` OBSERVED
    * days (ROWS frame — on a series with missing calendar days the
    * baseline is the last w days that HAVE data, not the last w
    * calendar days; a zero-activity day that never emits a row cannot
    * drag the baseline. Densify the day spine upstream if
    * calendar-window semantics are wanted), requiring the full window;
    * the z-score; and the exact |z| > 3 flag. Output:
    * (period, value, trail_mean, z, is_alert).
    *
    * Exactness: trailing S/S2/n are exact longs (window sums); the
    * alert compares (n·x − S)²·(n−1) > 9·n·(n·S2 − S²) in long
    * arithmetic (headroom: n·x ≲ 3e9 daily cents at n=7 squares to
    * ~4.4e17 — exact past 1e9-cent days); z itself renders as one
    * shared double. Zero trailing variance ⇒ z NULL, alert = any
    * deviation (the x139 MAD=0 convention).
    *
    * Scale: one corpus hash-agg to O(periods); trailing windows over
    * that table only.
    */
  def rollingZAnomalies(
      events: DataFrame, tsCol: String, valueCol: String,
      window: Int = 7): DataFrame = {
    require(window >= 2)
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val daily = events
      .select(to_date(date_trunc("day", col(tsCol))).as("d"), cents.as("c"))
      .groupBy(col("d")).agg(sum(col("c")).as("x"))
    val wTrail = Window.orderBy(col("d")).rowsBetween(-window, -1)
    daily
      .withColumn("n", count(col("x")).over(wTrail))
      .withColumn("s", sum(col("x")).over(wTrail))
      // width audit (r12): x = daily cents (~1e13 at 100 TB volume), so
      // x·x wraps a long PER ROW; the square moment and the n·s2 − s²
      // variance composition run in DECIMAL(38,0) (n = window ≤ a few
      // hundred, bound well under 1e38). dev and the mean stay long.
      .withColumn("s2",
        sum(col("x").cast("decimal(38,0)") * col("x")).over(wTrail))
      .filter(col("n") === window.toLong)
      .withColumn("dev", col("n") * col("x") - col("s"))
      .withColumn("varn", col("n") * col("s2")
        - col("s").cast("decimal(38,0)") * col("s"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("period"),
        (col("x") / lit(100.0d)).as("value"),
        expr("(CAST(sign(s) AS BIGINT) * ((abs(s) * 100 * 2 + n) DIV (2 * n))) / 10000.0D")
          .as("trail_mean"),
        when(col("varn") > 0L, Extensions.round4o(
          col("dev").cast("double") /
            (col("n").cast("double") * sqrt(col("varn").cast("double") /
              (col("n").cast("double") * (col("n") - 1L))))))
          .as("z"),
        when(col("varn") > 0L,
          col("dev") * col("dev") * (col("n") - 1L) >
            lit(9L) * col("n") * col("varn"))
          .otherwise(col("dev") =!= 0L).as("is_alert"))
  }

  /** x201: the daily revenue monitor (7-day trailing window). */
  def x201RollingZ(s: SparkSession, dir: String): DataFrame =
    rollingZAnomalies(Tables.load(s, dir, "events"), "ts", "value")

  private val x201OracleSql: String = """
      WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1),
      tr AS (SELECT d, x,
               CAST(count(x) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS n,
               CAST(sum(x) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s,
               CAST(sum(x * x) OVER (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) AS s2
             FROM daily),
      f AS (SELECT * FROM tr WHERE n = 7),
      g AS (SELECT *, n * x - s AS dev, n * s2 - s * s AS varn FROM f)
      SELECT strftime(d, '%Y-%m-%d') AS period,
             x / 100.0 AS value,
             (CAST(sign(s) AS BIGINT) * ((abs(s) * 100 * 2 + n) // (2 * n))) / 10000.0 AS trail_mean,
             CASE WHEN varn > 0 THEN
               round(CAST(dev AS DOUBLE)
                 / (CAST(n AS DOUBLE) * sqrt(CAST(varn AS DOUBLE)
                     / (CAST(n AS DOUBLE) * (n - 1))))
                 * 10000.0, 0) / 10000.0
             END AS z,
             CASE WHEN varn > 0 THEN dev * dev * (n - 1) > 9 * n * varn
                  ELSE dev <> 0 END AS is_alert
      FROM g
      ORDER BY period"""

  // ---- x202: basket size profile -----------------------------------------------

  /** Orders by item count: per size k — n_orders, share, and the
    * average order value at that size. Output:
    * (basket_size, n_orders, share, avg_order_value).
    *
    * Scale: one (order) hash-agg (items + cents), one size-grid
    * hash-agg; shares off a window over the ≤max-size grid.
    */
  def basketSizeProfile(
      lineitems: DataFrame, orderCol: String, itemCol: String,
      valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val perOrder = lineitems
      .select(col(orderCol).as("o"), col(itemCol).as("i"), cents.as("c"))
      .groupBy(col("o")).agg(count_distinct(col("i")).as("k"),
        sum(col("c")).as("v"))
    val grid = perOrder.groupBy(col("k")).agg(
      count(lit(1)).as("n_orders"), sum(col("v")).as("vsum"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    grid
      .withColumn("tot", sum(col("n_orders")).over(wAll))
      .select(col("k").as("basket_size"), col("n_orders"),
        expr("((n_orders * 10000 * 2 + tot) DIV (2 * tot)) / 10000.0D")
          .as("share"),
        expr("(CAST(sign(vsum) AS BIGINT) * ((abs(vsum) * 100 * 2 + n_orders) DIV (2 * n_orders))) / 10000.0D")
          .as("avg_order_value"))
  }

  /** x202: the order-size economics of the lineitem fixture. */
  def x202Baskets(s: SparkSession, dir: String): DataFrame =
    basketSizeProfile(
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"),
          (col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
            .as("net")),
      "l_orderkey", "l_partkey", "net")

  private val x202OracleSql: String = """
      WITH po AS (SELECT l_orderkey AS o, count(DISTINCT l_partkey) AS k,
                    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0, 0) AS BIGINT)) AS BIGINT) AS v
                  FROM lineitem GROUP BY l_orderkey),
      grid AS (SELECT k, count(*) AS n_orders, CAST(sum(v) AS BIGINT) AS vsum
               FROM po GROUP BY k),
      w AS (SELECT *, CAST(sum(n_orders) OVER () AS BIGINT) AS tot FROM grid)
      SELECT k AS basket_size, n_orders,
             ((n_orders * 10000 * 2 + tot) // (2 * tot)) / 10000.0 AS share,
             (CAST(sign(vsum) AS BIGINT) * ((abs(vsum) * 100 * 2 + n_orders) // (2 * n_orders))) / 10000.0 AS avg_order_value
      FROM w
      ORDER BY basket_size"""

  val entries: Seq[Entry] = Seq(
    Entry("x201_rolling_z", x201RollingZ _, x201OracleSql),
    Entry("x202_basket_profile", x202Baskets _, x202OracleSql))
}
