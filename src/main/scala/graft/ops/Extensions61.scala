package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Sixty-first extension batch — which series leads, how long steps take:
  *
  *  - lead-lag cross-correlation (x154): Pearson correlation of two
  *    daily series at every lag in ±k days — does activity LEAD
  *    revenue, or follow it? The x136/x138 time-series tier's causal
  *    direction probe (cross-correlogram, Box & Jenkins shape).
  *  - funnel step timing (x155): median / p90 time between consecutive
  *    funnel anchors (the x85 greedy-anchor semantics, REUSED — one
  *    shared fold) — x85 counts who converts; this prices how long
  *    each step takes.
  *
  * Determinism discipline: x154's correlation moments are exact longs
  * per lag (cents × counts stay far inside long range on daily
  * aggregates); the one float step is num/sqrt(vx·vy) with vx·vy
  * multiplied IN DOUBLES in both engines (two ~2^57 longs would
  * overflow a long product). x155's delays are epoch-µs longs;
  * medians/p90s double into half-µs longs and render by half-away
  * division (the x152 rule).
  */
object Extensions61 {

  // ---- x154: lead-lag cross-correlation ----------------------------------------

  /** Cross-correlogram of two daily aggregates of the same event log:
    * series A = daily sum of `valueCol` (exact cents), series B =
    * daily event count. For each lag L ∈ [−maxLag, +maxLag]:
    * corr(A_t, B_{t+L}) over the overlapping days. A POSITIVE peak lag
    * means A leads B by L days. Output (lag, n_days, corr, is_peak)
    * — peak = max |corr| over lags with n_days ≥ 3,
    * ties to the smallest lag; corr NULL when either variance is 0.
    *
    * Exactness: per-lag moments (n, Σa, Σb, Σab, Σa², Σb²) are exact
    * longs; corr's numerator n·Σab − Σa·Σb is exact, and the two
    * variance factors multiply as doubles under ONE shared sqrt —
    * identical expression both engines.
    *
    * Scale: one corpus hash-agg to the O(periods) daily table; the lag
    * fan-out is a broadcast spine (2k+1 rows) and a self-equi-join on
    * the shifted date — O(periods·lags) rows total, corpus touched
    * once.
    */
  def leadLagCorrelation(
      events: DataFrame, tsCol: String, valueCol: String,
      maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1 && maxLag <= 30)
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val daily = Extensions.materialized(events
      .select(to_date(date_trunc("day", col(tsCol))).as("d"), cents.as("cents"))
      .groupBy(col("d"))
      .agg(sum(col("cents")).as("a"), count(lit(1)).as("b")))
    val s = events.sparkSession
    import s.implicits._
    val spine = (-maxLag to maxLag).map(_.toLong).toDF("lag")
    val shifted = daily.select(col("d").as("d2"), col("b").as("b2"))
    val pairs = daily.crossJoin(broadcast(spine))
      .withColumn("d2", expr("date_add(d, CAST(lag AS INT))"))
      .join(shifted, Seq("d2"))
    // width audit (r12): a = daily cents can reach ~1e13 at 100 TB event
    // volume, so a·a (~1e26) wraps a long PER ROW and the Σ/compositions
    // wrap harder — the cross/square moments and the n·S − S·S products
    // run in DECIMAL(38,0) (bound: 3650 days · 1e26 ≈ 4e29 < 1e38);
    // n and the plain sums stay long (≤ ~1e17)
    val mom = pairs.groupBy(col("lag")).agg(
      count(lit(1)).as("n"),
      sum(col("a")).as("sa"), sum(col("b2")).as("sb"),
      sum(col("a").cast("decimal(38,0)") * col("b2")).as("sab"),
      sum(col("a").cast("decimal(38,0)") * col("a")).as("saa"),
      sum(col("b2").cast("decimal(38,0)") * col("b2")).as("sbb"))
    val num = (col("n") * col("sab")
      - col("sa").cast("decimal(38,0)") * col("sb")).cast("double")
    val vx = (col("n") * col("saa")
      - col("sa").cast("decimal(38,0)") * col("sa")).cast("double")
    val vy = (col("n") * col("sbb")
      - col("sb").cast("decimal(38,0)") * col("sb")).cast("double")
    val corr = Extensions.round4o(
      when(vx > 0.0d && vy > 0.0d, num / sqrt(vx * vy)))
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    mom
      .withColumn("corr", corr)
      .withColumn("peak",
        max(when(col("n") >= 3L, abs(col("corr")))).over(wAll))
      .withColumn("first_peak",
        min(when(col("n") >= 3L && abs(col("corr")) === col("peak"), col("lag")))
          .over(wAll))
      .select(col("lag"), col("n").as("n_days"), col("corr"),
        coalesce(col("lag") === col("first_peak"), lit(false)).as("is_peak"))
  }

  /** x154: does daily activity volume lead daily revenue (±3 days)? */
  def x154LeadLag(s: SparkSession, dir: String): DataFrame =
    leadLagCorrelation(Tables.load(s, dir, "events"), "ts", "value")

  private val x154OracleSql: String = """
      WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS a,
               count(*) AS b
        FROM events GROUP BY 1),
      spine AS (SELECT CAST(u.l AS BIGINT) AS lag
                FROM (VALUES (-3), (-2), (-1), (0), (1), (2), (3)) u(l)),
      pairs AS (SELECT s.lag, d1.a, d2.b AS b2
                FROM daily d1 CROSS JOIN spine s
                JOIN daily d2 ON d2.d = d1.d + CAST(s.lag AS INT)),
      mom AS (SELECT lag, count(*) AS n,
                CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b2) AS BIGINT) AS sb,
                CAST(sum(a * b2) AS BIGINT) AS sab,
                CAST(sum(a * a) AS BIGINT) AS saa,
                CAST(sum(b2 * b2) AS BIGINT) AS sbb
              FROM pairs GROUP BY lag),
      cr AS (SELECT lag, n,
               CASE WHEN CAST(n * saa - sa * sa AS DOUBLE) > 0
                     AND CAST(n * sbb - sb * sb AS DOUBLE) > 0
                    THEN round(CAST(n * sab - sa * sb AS DOUBLE)
                         / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                                * CAST(n * sbb - sb * sb AS DOUBLE))
                         * 10000.0, 0) / 10000.0
                    END AS corr
             FROM mom),
      pk AS (SELECT *, max(CASE WHEN n >= 3 THEN abs(corr) END) OVER () AS peak
             FROM cr),
      fp AS (SELECT *, min(CASE WHEN n >= 3 AND abs(corr) = peak THEN lag END)
                         OVER () AS first_peak
             FROM pk)
      SELECT lag, n AS n_days, corr,
             coalesce(lag = first_peak, false) AS is_peak
      FROM fp
      ORDER BY lag"""

  // ---- x155: funnel step timing ------------------------------------------------

  /** Median / p90 seconds between consecutive funnel anchors under the
    * x85 greedy-anchor semantics (same fold, literally shared code):
    * one row per step transition — (step_from, step_to,
    * n_converted, median_s, p90_s).
    *
    * Exactness: delays are epoch-µs longs; the percentiles double into
    * half-µs longs (exact order-statistic midpoints... p90 may
    * interpolate to other exact fractions — the doubled-round form
    * pins it either way under the q74 cross-engine parity contract)
    * and render by half-away division.
    *
    * Scale: the anchor fold is ONE user-key exchange (x85's shape);
    * per-user anchors collapse by hash-agg, and the timing aggregation
    * runs 2(k−1) percentile buffers in one pass over the O(users)
    * table. The transition rows come from a bounded spine.
    */
  def funnelStepTiming(
      log: DataFrame, userCol: String, typeCol: String, tsCol: String,
      steps: Seq[String], stepWindowUs: Long): DataFrame = {
    require(steps.size >= 2, "timing needs at least two steps")
    val anchored = Extensions23.funnelAnchorFold(
      log, userCol, typeCol, tsCol, steps, stepWindowUs)
    val perUser = anchored.groupBy(col(userCol)).agg(
      steps.indices.map(i => max(col(s"t${i + 1}")).as(s"t${i + 1}")).head,
      steps.indices.map(i => max(col(s"t${i + 1}")).as(s"t${i + 1}")).tail: _*)
    val delays = perUser.select(
      (1 until steps.size).map { i =>
        (unix_micros(col(s"t${i + 1}")) - unix_micros(col(s"t$i")))
          .as(s"d$i")
      }: _*)
    val aggs = (1 until steps.size).flatMap { i =>
      Seq(count(col(s"d$i")).as(s"n$i"),
        expr(s"CAST(round(2.0D * percentile(d$i, 0.5D), 0) AS BIGINT)")
          .as(s"md$i"),
        expr(s"CAST(round(2.0D * percentile(d$i, 0.9D), 0) AS BIGINT)")
          .as(s"p9$i"))
    }
    val wide = delays.agg(aggs.head, aggs.tail: _*)
    val s = log.sparkSession
    import s.implicits._
    val spine = (1 until steps.size)
      .map(i => (steps(i - 1), steps(i), i)).toDF("step_from", "step_to", "i")
    def pick(prefix: String) = (1 until steps.size).map(i =>
      when(col("i") === i, col(s"$prefix$i")))
      .reduceRight((x, y) => x.otherwise(y))
    wide.crossJoin(broadcast(spine))
      .select(col("step_from"), col("step_to"), pick("n").as("n_converted"),
        pick("md").as("md2"), pick("p9").as("p92"))
      .select(col("step_from"), col("step_to"), col("n_converted"),
        when(col("md2").isNotNull,
          expr("((md2 * 10000 * 2 + 2000000) DIV (2 * 2000000)) / 10000.0D"))
          .as("median_s"),
        when(col("p92").isNotNull,
          expr("((p92 * 10000 * 2 + 2000000) DIV (2 * 2000000)) / 10000.0D"))
          .as("p90_s"))
  }

  /** x155: view → click → purchase step timing, 24 h per step (the x85
    * funnel, priced).
    */
  def x155StepTiming(s: SparkSession, dir: String): DataFrame =
    funnelStepTiming(Tables.load(s, dir, "events"), "user_id", "event_type",
      "ts", Seq("view", "click", "purchase"),
      stepWindowUs = 24L * 3600 * 1000000)

  private val x155OracleSql: String = """
      WITH w1 AS (
        SELECT user_id, ts, event_type,
               min(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id) AS t1
        FROM events),
      w2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
                            AND epoch_us(ts) - epoch_us(t1) <= 86400000000 THEN ts END)
                    OVER (PARTITION BY user_id) AS t2
        FROM w1),
      w3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
                            AND epoch_us(ts) - epoch_us(t2) <= 86400000000 THEN ts END)
                    OVER (PARTITION BY user_id) AS t3
        FROM w2),
      pu AS (SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
             FROM w3 GROUP BY user_id),
      d AS (SELECT epoch_us(t2) - epoch_us(t1) AS d1,
                   epoch_us(t3) - epoch_us(t2) AS d2
            FROM pu),
      wide AS (SELECT
          count(d1) AS n1,
          CAST(round(2.0 * percentile_cont(0.5) WITHIN GROUP (ORDER BY d1), 0) AS BIGINT) AS md1,
          CAST(round(2.0 * percentile_cont(0.9) WITHIN GROUP (ORDER BY d1), 0) AS BIGINT) AS p91,
          count(d2) AS n2,
          CAST(round(2.0 * percentile_cont(0.5) WITHIN GROUP (ORDER BY d2), 0) AS BIGINT) AS md2,
          CAST(round(2.0 * percentile_cont(0.9) WITHIN GROUP (ORDER BY d2), 0) AS BIGINT) AS p92
        FROM d)
      SELECT 'view' AS step_from, 'click' AS step_to, n1 AS n_converted,
             CASE WHEN md1 IS NOT NULL
                  THEN CAST((md1 * 10000 * 2 + 2000000) // (2 * 2000000) AS BIGINT) / 10000.0 END AS median_s,
             CASE WHEN p91 IS NOT NULL
                  THEN CAST((p91 * 10000 * 2 + 2000000) // (2 * 2000000) AS BIGINT) / 10000.0 END AS p90_s
      FROM wide
      UNION ALL
      SELECT 'click', 'purchase', n2,
             CASE WHEN md2 IS NOT NULL
                  THEN CAST((md2 * 10000 * 2 + 2000000) // (2 * 2000000) AS BIGINT) / 10000.0 END,
             CASE WHEN p92 IS NOT NULL
                  THEN CAST((p92 * 10000 * 2 + 2000000) // (2 * 2000000) AS BIGINT) / 10000.0 END
      FROM wide
      ORDER BY step_from"""

  val entries: Seq[Entry] = Seq(
    Entry("x154_lead_lag", x154LeadLag _, x154OracleSql),
    Entry("x155_step_timing", x155StepTiming _, x155OracleSql))
}
