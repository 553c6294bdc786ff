package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Eighty-third extension batch — the trend no outlier owns, the
  * rhythm no mean shows:
  *
  *  - Theil–Sen trend (x198): the median of all pairwise slopes of
  *    the daily series (Theil 1950; Sen 1968) — the robust
  *    counterpart of x156's OLS pre-trend: one corrupted day moves
  *    OLS arbitrarily, Theil–Sen not at all (29% breakdown).
  *  - burstiness index (x199): Goh & Barabási's B = (σ−μ)/(σ+μ) of
  *    inter-event gaps per user, summarized per event-type segment —
  *    B ≈ −1 metronome, 0 Poisson, → 1 bursty. The distributional
  *    sibling of x152's gap MAD and x176's daily dispersion.
  *
  * Determinism discipline: x198 quantizes each pairwise slope to
  * micro-cents/day via sign-split division BEFORE the doubled-median
  * (the x139 percentile rule); x199 keeps per-user gap moments as
  * exact longs and quantizes each user's B to micro before the
  * segment median.
  */
object Extensions83 {

  // ---- x198: Theil–Sen robust trend --------------------------------------------

  /** Median pairwise slope of daily sums: for all day pairs i < j,
    * slope_ij = (x_j − x_i)/(t_j − t_i) quantized to micro-cents/day;
    * the estimate is the exact (doubled) median over pairs. Output
    * one row: (n_days, n_pairs, slope_cents_per_day, slope_dollars_
    * per_day).
    *
    * Scale: the pair table is O(periods²) — a YEAR is ~66k pairs, a
    * dimension-sized self-join of the aggregated daily table, never
    * the corpus. Slopes quantize before the percentile buffer.
    *
    * Family sibling: x266 [[Extensions118.theilSen]] — the exact
    * RATIONAL median slope (+ intercept) picked by rank over the pair
    * table; this form quantizes slopes to micro first and medians via
    * the percentile buffer.
    */
  def theilSenTrend(
      events: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val daily = Extensions.materialized(events
      .select(to_date(date_trunc("day", col(tsCol))).as("d"), cents.as("c"))
      .groupBy(col("d")).agg(sum(col("c")).as("x")))
    val b = daily.select(col("d").as("d2"), col("x").as("x2"))
    val pairs = daily.join(b, col("d2") > col("d"))
      .select(expr("datediff(d2, d)").cast("long").as("dt"),
        (col("x2") - col("x")).as("dx"))
      .select(expr(
        "CAST(sign(dx) AS BIGINT) * ((abs(dx) * 1000000 * 2 + dt) DIV (2 * dt))")
        .as("sl"))
    pairs.agg(count(lit(1)).as("n_pairs"),
      expr("CAST(round(2.0D * percentile(sl, 0.5D), 0) AS BIGINT)").as("m2"))
      .crossJoin(broadcast(daily.agg(count(lit(1)).as("n_days"))))
      .select(col("n_days"), col("n_pairs"),
        expr("(CAST(sign(m2) AS BIGINT) * ((abs(m2) * 10000 * 2 + 2000000) DIV (2 * 2000000))) / 10000.0D")
          .as("slope_cents_per_day"),
        expr("(CAST(sign(m2) AS BIGINT) * ((abs(m2) * 100 * 2 + 2000000) DIV (2 * 2000000))) / 10000.0D")
          .as("slope_dollars_per_day"))
  }

  /** x198: the fixture's robust daily revenue trend. */
  def x198TheilSen(s: SparkSession, dir: String): DataFrame =
    theilSenTrend(Tables.load(s, dir, "events"), "ts", "value")

  private val x198OracleSql: String = """
      WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1),
      pairs AS (SELECT CAST(datediff('day', a.d, b.d) AS BIGINT) AS dt,
                       b.x - a.x AS dx
                FROM daily a JOIN daily b ON b.d > a.d),
      sl AS (SELECT CAST(sign(dx) AS BIGINT)
               * ((abs(dx) * 1000000 * 2 + dt) // (2 * dt)) AS sl
             FROM pairs),
      agg AS (SELECT count(*) AS n_pairs,
                CAST(round(2.0 * percentile_cont(0.5) WITHIN GROUP (ORDER BY sl), 0) AS BIGINT) AS m2
              FROM sl),
      nd AS (SELECT count(*) AS n_days FROM daily)
      SELECT nd.n_days, agg.n_pairs,
             (CAST(sign(m2) AS BIGINT) * ((abs(m2) * 10000 * 2 + 2000000) // (2 * 2000000))) / 10000.0 AS slope_cents_per_day,
             (CAST(sign(m2) AS BIGINT) * ((abs(m2) * 100 * 2 + 2000000) // (2 * 2000000))) / 10000.0 AS slope_dollars_per_day
      FROM agg, nd"""

  // ---- x199: burstiness index --------------------------------------------------

  /** Per event-type segment, the median of per-user burstiness B =
    * (σ−μ)/(σ+μ) over inter-event gaps (users with ≥ 3 events of the
    * type). Output per type: (event_type, n_users, median_b)
    * — −1 metronome, 0 Poisson-like, → 1 bursty.
    *
    * Exactness: gaps quantize to whole seconds (µs² of a day-long gap
    * would overflow a long); per-user moments (n, Σg, Σg²) are exact;
    * σ and B evaluate in one shared double expression per user and
    * quantize to micro BEFORE the doubled-median segment summary.
    *
    * Scale: ONE (user, type)-key exchange for the lag window, a
    * (user, type) hash-agg, per-user math map-side, a type hash-agg
    * with one percentile buffer.
    */
  def burstinessIndex(
      events: DataFrame, userCol: String, typeCol: String,
      tsCol: String): DataFrame = {
    val w = Window.partitionBy(col("u"), col("ty")).orderBy(col("t"))
    // gaps in WHOLE SECONDS: a day-long gap in µs squares past long
    // range; second resolution is ample for a burstiness ratio
    val gaps = events
      .select(col(userCol).as("u"), col(typeCol).as("ty"),
        unix_micros(col(tsCol)).as("t"))
      .withColumn("g", expr("(t - lag(t, 1) OVER (PARTITION BY u, ty ORDER BY t)) DIV 1000000"))
      .filter(col("g").isNotNull)
    val perUser = gaps.groupBy(col("u"), col("ty")).agg(
      count(lit(1)).as("n"), sum(col("g")).as("s1"),
      sum(col("g") * col("g")).as("s2"))
      .filter(col("n") >= 2L)
      .withColumn("mu", col("s1").cast("double") / col("n"))
      .withColumn("sg", sqrt(greatest(lit(0.0d),
        col("s2").cast("double") / col("n") -
          (col("s1").cast("double") / col("n")) *
            (col("s1").cast("double") / col("n")))))
      .withColumn("b_micro",
        round(lit(1e6) * (col("sg") - col("mu")) / (col("sg") + col("mu")), 0)
          .cast("long"))
    perUser.groupBy(col("ty")).agg(
      count(lit(1)).as("n_users"),
      expr("CAST(round(2.0D * percentile(b_micro, 0.5D), 0) AS BIGINT)")
        .as("mb2"))
      .select(col("ty").as("event_type"), col("n_users"),
        expr("(CAST(sign(mb2) AS BIGINT) * ((abs(mb2) * 10000 * 2 + 2000000) DIV (2 * 2000000))) / 10000.0D")
          .as("median_b"))
  }

  /** x199: how bursty is each behavior? (≥3 events of the type per
    * user = ≥2 gaps.)
    */
  def x199Burstiness(s: SparkSession, dir: String): DataFrame =
    burstinessIndex(Tables.load(s, dir, "events"), "user_id",
      "event_type", "ts")

  private val x199OracleSql: String = """
      WITH base AS (SELECT user_id AS u, event_type AS ty, epoch_us(ts) AS t
                    FROM events),
      gp AS (SELECT u, ty,
               (t - lag(t) OVER (PARTITION BY u, ty ORDER BY t)) // 1000000 AS g
             FROM base),
      pu AS (SELECT u, ty, count(*) AS n,
               CAST(sum(g) AS BIGINT) AS s1, CAST(sum(g * g) AS BIGINT) AS s2
             FROM gp WHERE g IS NOT NULL GROUP BY u, ty),
      f AS (SELECT *, s1 * 1.0 / n AS mu,
              sqrt(greatest(0.0, s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n))) AS sg
            FROM pu WHERE n >= 2),
      bm AS (SELECT ty, CAST(round(1e6 * (sg - mu) / (sg + mu), 0) AS BIGINT) AS b_micro
             FROM f),
      agg AS (SELECT ty, count(*) AS n_users,
                CAST(round(2.0 * percentile_cont(0.5) WITHIN GROUP (ORDER BY b_micro), 0) AS BIGINT) AS mb2
              FROM bm GROUP BY ty)
      SELECT ty AS event_type, n_users,
             (CAST(sign(mb2) AS BIGINT) * ((abs(mb2) * 10000 * 2 + 2000000) // (2 * 2000000))) / 10000.0 AS median_b
      FROM agg
      ORDER BY event_type"""

  val entries: Seq[Entry] = Seq(
    Entry("x198_theil_sen", x198TheilSen _, x198OracleSql),
    Entry("x199_burstiness", x199Burstiness _, x199OracleSql))
}
