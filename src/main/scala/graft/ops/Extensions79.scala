package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Seventy-ninth extension batch — the series' memory, the series'
  * randomness:
  *
  *  - autocorrelation table (x190): ACF at lags 1..K over the daily
  *    series with per-lag significance (|r| > 2/√N, compared as
  *    integers) and the Ljung–Box portmanteau Q — the correlogram
  *    x154 computes ACROSS two series, turned inward.
  *  - turning-point test (x191): local extrema count vs the 2(n−2)/3
  *    i.i.d. expectation (Kendall's test) — the time-series cousin of
  *    x160's runs test: too few turns = trend/momentum, too many =
  *    oscillation.
  *
  * Determinism discipline: x190's deviations quantize to cents via
  * sign-split division ONCE, making every numerator/denominator an
  * exact long; r_k micro-quantizes before Q's per-term half-away
  * division. x191 is exact integer counts with one shared z
  * expression.
  */
object Extensions79 {

  // ---- x190: autocorrelation + Ljung–Box ---------------------------------------

  /** ACF of the daily sum of `valueCol` at lags 1..`maxLag`: with
    * deviations d_t = x_t − x̄ (quantized to exact cents via the
    * sign-split division), r_k = Σ d_t·d_{t+k} / Σ d_t². Output per
    * lag: (lag, n_pairs, r, significant, lb_q) — significant
    * = |r| > 2/√N as the integer comparison r_micro²·N > 4e12; lb_q =
    * the Ljung–Box Q over lags 1..K repeated on every row (the x120
    * self-contained-table convention).
    *
    * Scale: one corpus hash-agg to O(periods); the lag fan-out is the
    * x154 shifted-date equi-join; moments per lag are exact longs.
    */
  def acfTable(
      events: DataFrame, tsCol: String, valueCol: String,
      maxLag: Int = 6): DataFrame = {
    require(maxLag >= 1 && maxLag <= 30)
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val daily = Extensions.materialized(events
      .select(to_date(date_trunc("day", col(tsCol))).as("d"), cents.as("c"))
      .groupBy(col("d")).agg(sum(col("c")).as("x")))
    val tot = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val dev = Extensions.materialized(daily.crossJoin(broadcast(tot))
      .select(col("d"), col("n"), expr(
        "CAST(sign(n * x - s) AS BIGINT) * ((abs(n * x - s) * 2 + n) DIV (2 * n))")
        .as("dv")))
    val den = dev.agg(sum(col("dv") * col("dv")).as("sdd"),
      first(col("n")).as("n"))
    val s = events.sparkSession
    import s.implicits._
    val spine = (1 to maxLag).map(_.toLong).toDF("lag")
    val shifted = dev.select(col("d").as("d2"), col("dv").as("dv2"))
    val perLag = dev.crossJoin(broadcast(spine))
      .withColumn("d2", expr("date_add(d, CAST(lag AS INT))"))
      .join(shifted, Seq("d2"))
      .groupBy(col("lag")).agg(count(lit(1)).as("n_pairs"),
        sum(col("dv") * col("dv2")).as("num"))
      .crossJoin(broadcast(den))
      .withColumn("r_micro", expr(
        "CAST(sign(num) AS BIGINT) * ((abs(num) * 1000000 * 2 + sdd) DIV (2 * sdd))"))
      .withColumn("term", expr(
        "(r_micro * r_micro * 2 + (n - lag)) DIV (2 * (n - lag))"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    perLag
      .withColumn("tsum", sum(col("term")).over(wAll))
      .select(col("lag"), col("n_pairs"),
        (col("r_micro") / lit(1000000.0d)).as("r"),
        (col("r_micro") * col("r_micro") * col("n") > lit(4000000000000L))
          .as("significant"),
        Extensions.round4o(
          col("n").cast("double") * (col("n") + 2L) * col("tsum") / lit(1e12))
          .as("lb_q"))
  }

  /** x190: the daily revenue correlogram, lags 1..6. */
  def x190Acf(s: SparkSession, dir: String): DataFrame =
    acfTable(Tables.load(s, dir, "events"), "ts", "value")

  private val x190OracleSql: String = """
      WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1),
      tot AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS s FROM daily),
      dev AS (SELECT d, tot.n,
                CAST(sign(tot.n * x - tot.s) AS BIGINT)
                  * ((abs(tot.n * x - tot.s) * 2 + tot.n) // (2 * tot.n)) AS dv
              FROM daily, tot),
      den AS (SELECT CAST(sum(dv * dv) AS BIGINT) AS sdd, any_value(n) AS n
              FROM dev),
      spine AS (SELECT CAST(u.l AS BIGINT) AS lag
                FROM (VALUES (1), (2), (3), (4), (5), (6)) u(l)),
      pl AS (SELECT s.lag, count(*) AS n_pairs,
               CAST(sum(a.dv * b.dv) AS BIGINT) AS num
             FROM dev a CROSS JOIN spine s
             JOIN dev b ON b.d = a.d + CAST(s.lag AS INT)
             GROUP BY s.lag),
      rm AS (SELECT pl.*, den.sdd, den.n,
               CAST(sign(num) AS BIGINT)
                 * ((abs(num) * 1000000 * 2 + den.sdd) // (2 * den.sdd)) AS r_micro
             FROM pl, den),
      tm AS (SELECT *, (r_micro * r_micro * 2 + (n - lag)) // (2 * (n - lag)) AS term
             FROM rm),
      q AS (SELECT *, CAST(sum(term) OVER () AS BIGINT) AS tsum FROM tm)
      SELECT lag, n_pairs, r_micro / 1000000.0 AS r,
             r_micro * r_micro * n > 4000000000000 AS significant,
             round(CAST(n AS DOUBLE) * (n + 2) * tsum / 1e12 * 10000.0, 0)
               / 10000.0 AS lb_q
      FROM q
      ORDER BY lag"""

  // ---- x191: turning-point test ------------------------------------------------

  /** Kendall's turning-point test on the daily series: T = count of
    * local extrema (x_{t−1} < x_t > x_{t+1} or the reverse, strict);
    * under i.i.d., E[T] = 2(n−2)/3 and Var[T] = (16n−29)/90;
    * z = (T − E)/σ. Output one row: (n_days, n_turning_points,
    * expected, z) — too few turns = momentum, too many = oscillation;
    * ties (flat neighbors) count as non-turns, documented.
    *
    * Scale: O(periods) windows only.
    */
  def turningPointTest(
      events: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val daily = events
      .select(to_date(date_trunc("day", col(tsCol))).as("d"), cents.as("c"))
      .groupBy(col("d")).agg(sum(col("c")).as("x"))
    val w = Window.orderBy(col("d"))
    daily
      .withColumn("p", lag(col("x"), 1).over(w))
      .withColumn("f", lead(col("x"), 1).over(w))
      .agg(count(lit(1)).as("n"),
        sum(when(col("p").isNotNull && col("f").isNotNull &&
          ((col("p") < col("x") && col("x") > col("f")) ||
            (col("p") > col("x") && col("x") < col("f"))), 1L)
          .otherwise(0L)).as("t"))
      .select(col("n").as("n_days"), col("t").as("n_turning_points"),
        expr("((2 * (n - 2) * 10000 * 2 + 3) DIV (2 * 3)) / 10000.0D")
          .as("expected"),
        when(col("n") >= 4L, Extensions.round4o(
          (col("t").cast("double") - lit(2.0d) * (col("n") - 2L) / lit(3.0d)) /
            sqrt((lit(16.0d) * col("n") - 29.0d) / lit(90.0d)))).as("z"))
  }

  /** x191: is daily revenue a random sequence or a trending one? */
  def x191TurningPoints(s: SparkSession, dir: String): DataFrame =
    turningPointTest(Tables.load(s, dir, "events"), "ts", "value")

  private val x191OracleSql: String = """
      WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1),
      lg AS (SELECT d, x,
               lag(x) OVER (ORDER BY d) AS p,
               lead(x) OVER (ORDER BY d) AS f
             FROM daily),
      agg AS (SELECT count(*) AS n,
                CAST(sum(CASE WHEN p IS NOT NULL AND f IS NOT NULL
                          AND ((p < x AND x > f) OR (p > x AND x < f))
                         THEN 1 ELSE 0 END) AS BIGINT) AS t
              FROM lg)
      SELECT n AS n_days, t AS n_turning_points,
             ((2 * (n - 2) * 10000 * 2 + 3) // (2 * 3)) / 10000.0 AS expected,
             CASE WHEN n >= 4 THEN
               round((CAST(t AS DOUBLE) - 2.0 * (n - 2) / 3.0)
                 / sqrt((16.0 * n - 29.0) / 90.0) * 10000.0, 0) / 10000.0
             END AS z
      FROM agg"""

  val entries: Seq[Entry] = Seq(
    Entry("x190_acf", x190Acf _, x190OracleSql),
    Entry("x191_turning_points", x191TurningPoints _, x191OracleSql))
}
