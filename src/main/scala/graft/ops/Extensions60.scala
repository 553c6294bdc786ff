package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Sixtieth extension batch — who is a robot, which feature matters:
  *
  *  - bot score card (x152): per-user behavioral features — event rate,
  *    inter-event gap median/MAD (metronomic cadence = automation),
  *    event-type entropy (a bot does one thing) — with an explicit
  *    threshold flag. The abuse-filtering sibling of x91's timeline
  *    surprisal: features a rule OR the x94 classifier can consume.
  *  - weight-of-evidence / information value (x153): the credit-scoring
  *    feature diagnostic (Siddiqi 2006) against a boolean label —
  *    per-bucket WoE = ln(p_pos/p_neg) with add-half smoothing and the
  *    IV total that ranks feature usefulness (x141's chi-square asks
  *    "is this token associated"; IV asks "how much separation does
  *    this numeric feature buy").
  *
  * Determinism discipline: gaps/spans are exact epoch-microsecond
  * longs; medians double into half/quarter-unit longs (the x139 rule);
  * entropy terms quantize ln(c/n) to micro BEFORE the per-user sum;
  * x153 quantizes WoE to micro then forms IV contributions by
  * half-away integer division — bucket sums are long addition.
  */
object Extensions60 {

  // ---- x152: behavioral bot score card -----------------------------------------

  /** Per-user behavior card: (user_id, n_events, span_days, rate_per_day,
    * median_gap_s, gap_mad_s, type_entropy, is_suspect). Entropy is in
    * nats over event-type frequencies; `is_suspect`
    * = rate above `minRate4` (4dp units/day) AND entropy below
    * `maxEntropy4` — the "fast and monotonous" signature. Users with
    * one event carry NULL gap stats; span at second resolution (rate
    * NULL on a zero span).
    *
    * Exactness: all times are epoch-microsecond longs; gap median/MAD
    * double into half/quarter-µs longs (order-statistic midpoints are
    * exact there); entropy quantizes each ln(c/n) to micro per
    * (user, type) COUNT — the per-user sum is then long arithmetic and
    * the threshold flag compares integers.
    *
    * Scale: ONE user-key exchange carries the lag window; everything
    * after is hash-aggs on (user) or (user, type) and broadcast-free
    * map math. No corpus-wide window, no driver state.
    */
  def botScoreCard(
      events: DataFrame, userCol: String, tsCol: String, typeCol: String,
      minRate4: Long = 500000L, maxEntropy4: Long = 5000L): DataFrame = {
    val base = events.select(col(userCol).as("u"),
      unix_micros(col(tsCol)).as("t"), col(typeCol).as("ty"),
      col(tsCol).as("ts0"))
    val wSeq = Window.partitionBy(col("u")).orderBy(col("t"))
    val gaps = base
      .withColumn("gap", col("t") - lag(col("t"), 1).over(wSeq))
    val perUser = gaps.groupBy(col("u")).agg(
      count(lit(1)).as("n"),
      (max(col("t")) - min(col("t"))).as("span_us"),
      expr("CAST(round(2.0D * percentile(gap, 0.5D), 0) AS BIGINT)").as("med2"))
    val mad = gaps.join(perUser.select(col("u"), col("med2")), Seq("u"))
      .filter(col("gap").isNotNull)
      .withColumn("dev2", abs(col("gap") * 2L - col("med2")))
      .groupBy(col("u")).agg(
        expr("CAST(round(2.0D * percentile(dev2, 0.5D), 0) AS BIGINT)").as("mad4"))
    val ent = base.groupBy(col("u"), col("ty")).agg(count(lit(1)).as("c"))
      .withColumn("nn", sum(col("c")).over(Window.partitionBy(col("u"))))
      .withColumn("m", round(lit(1e6) * log(col("c") / col("nn")), 0).cast("long"))
      .groupBy(col("u")).agg((-sum(col("c") * col("m"))).as("s"),
        first(col("nn")).as("nn"))
      .select(col("u"), expr("(s * 2 + (100 * nn)) DIV (2 * (100 * nn))")
        .as("entropy4"))
    perUser.join(mad, Seq("u"), "left_outer").join(ent, Seq("u"))
      .withColumn("span_s", expr("span_us DIV 1000000"))
      .withColumn("rate4",
        when(col("span_s") > 0L, expr("(n * 864000000 * 2 + span_s) DIV (2 * span_s)")))
      .select(col("u").as("user_id"), col("n").as("n_events"),
        expr("((span_us * 2 + 8640000) DIV (2 * 8640000)) / 10000.0D")
          .as("span_days"),
        (col("rate4") / lit(10000.0d)).as("rate_per_day"),
        when(col("med2").isNotNull,
          expr("((med2 * 10000 * 2 + 2000000) DIV (2 * 2000000)) / 10000.0D"))
          .as("median_gap_s"),
        when(col("mad4").isNotNull,
          expr("((mad4 * 10000 * 2 + 4000000) DIV (2 * 4000000)) / 10000.0D"))
          .as("gap_mad_s"),
        (col("entropy4") / lit(10000.0d)).as("type_entropy"),
        coalesce(col("rate4") > minRate4 && col("entropy4") < maxEntropy4,
          lit(false)).as("is_suspect"))
  }

  /** x152: behavior card of the events fixture (organic traffic — the
    * default "50 events/day AND entropy < 0.5 nat" gate flags no one).
    */
  def x152BotCard(s: SparkSession, dir: String): DataFrame =
    botScoreCard(Tables.load(s, dir, "events"), "user_id", "ts", "event_type")

  private val x152OracleSql: String = """
      WITH base AS (SELECT user_id AS u, epoch_us(ts) AS t, event_type AS ty
                    FROM events),
      gaps AS (SELECT u, t, t - lag(t) OVER (PARTITION BY u ORDER BY t) AS gap
               FROM base),
      pu AS (SELECT u, count(*) AS n,
               CAST(max(t) - min(t) AS BIGINT) AS span_us,
               CAST(round(2.0 * percentile_cont(0.5) WITHIN GROUP (ORDER BY gap), 0) AS BIGINT) AS med2
             FROM gaps GROUP BY u),
      md AS (SELECT g.u,
               CAST(round(2.0 * percentile_cont(0.5)
                 WITHIN GROUP (ORDER BY abs(g.gap * 2 - pu.med2)), 0) AS BIGINT) AS mad4
             FROM gaps g JOIN pu ON pu.u = g.u
             WHERE g.gap IS NOT NULL
             GROUP BY g.u),
      tc AS (SELECT u, ty, count(*) AS c FROM base GROUP BY u, ty),
      te AS (SELECT u, c, CAST(sum(c) OVER (PARTITION BY u) AS BIGINT) AS nn,
               CAST(round(1e6 * ln(c * 1.0 / (sum(c) OVER (PARTITION BY u))), 0) AS BIGINT) AS m
             FROM tc),
      en AS (SELECT u, CAST(-sum(c * m) AS BIGINT) AS s, any_value(nn) AS nn
             FROM te GROUP BY u),
      e4 AS (SELECT u, (s * 2 + (100 * nn)) // (2 * (100 * nn)) AS entropy4 FROM en),
      fin AS (SELECT pu.u, pu.n, pu.span_us, pu.med2, md.mad4, e4.entropy4,
                pu.span_us // 1000000 AS span_s
              FROM pu LEFT JOIN md ON md.u = pu.u JOIN e4 ON e4.u = pu.u),
      r AS (SELECT *, CASE WHEN span_s > 0
                      THEN (n * 864000000 * 2 + span_s) // (2 * span_s) END AS rate4
            FROM fin)
      SELECT u AS user_id, n AS n_events,
             ((span_us * 2 + 8640000) // (2 * 8640000)) / 10000.0 AS span_days,
             rate4 / 10000.0 AS rate_per_day,
             CASE WHEN med2 IS NOT NULL
                  THEN ((med2 * 10000 * 2 + 2000000) // (2 * 2000000)) / 10000.0 END AS median_gap_s,
             CASE WHEN mad4 IS NOT NULL
                  THEN ((mad4 * 10000 * 2 + 4000000) // (2 * 4000000)) / 10000.0 END AS gap_mad_s,
             entropy4 / 10000.0 AS type_entropy,
             coalesce(rate4 > 500000 AND entropy4 < 5000, false) AS is_suspect
      FROM r
      ORDER BY user_id"""

  // ---- x153: weight of evidence / information value ----------------------------

  /** WoE/IV feature diagnostic: bucket `featureCol` by its own exact
    * quantile bounds (4dp-rounded, broadcast — the x93 binning), then
    * per bucket with add-half smoothing over nB buckets:
    *
    *   p_pos = (g + 0.5)/(G + nB/2),  p_neg = (b + 0.5)/(B + nB/2)
    *   WoE = ln(p_pos/p_neg),  IV = Σ_buckets (p_pos − p_neg)·WoE
    *
    * Output per bucket: (bucket, n, n_pos, woe, iv_contrib,
    * iv_total) — iv_total repeated (the x120 self-contained-table
    * convention).
    *
    * Exactness: WoE's ratio is exact-integer — ((2g+1)(2B+nB)) /
    * ((2b+1)(2G+nB)) — so ln quantizes to micro ONCE; each IV
    * contribution is then the half-away division Δnum·woe_micro /
    * ((2G+nB)(2B+nB)) of exact longs, and the total is long addition.
    *
    * Scale: bounds via one percentile agg (broadcast), bucket
    * assignment map-side, one bucket hash-agg; everything after runs
    * on ≤nB rows.
    */
  def woeIv(
      labeled: DataFrame, featureCol: String, labelCol: String,
      nBuckets: Int = 5): DataFrame = {
    require(nBuckets >= 2 && nBuckets <= 20)
    val qs = array((1 until nBuckets).map(i =>
      lit(i.toDouble / nBuckets)): _*)
    val bounds = labeled.agg(
      transform(percentile(col(featureCol), qs), b => round(b, 4)).as("bs"))
    val bucketed = labeled.crossJoin(broadcast(bounds))
      .select(aggregate(col("bs"), lit(0L),
        (acc, b) => acc + when(col(featureCol) > b, 1L).otherwise(0L))
        .as("bucket"),
        col(labelCol).cast("long").as("y"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("g"))
      .withColumn("b", col("n") - col("g"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val tot = bucketed
      .withColumn("gt", sum(col("g")).over(wAll))
      .withColumn("bt", sum(col("b")).over(wAll))
    val nb = lit(nBuckets.toLong)
    val smoothed = tot
      .withColumn("pgn", col("g") * 2L + 1L)
      .withColumn("pbn", col("b") * 2L + 1L)
      .withColumn("gd", col("gt") * 2L + nb)
      .withColumn("bd", col("bt") * 2L + nb)
      .withColumn("woe_micro",
        round(lit(1e6) * log((col("pgn") * col("bd")).cast("double") /
          (col("pbn") * col("gd"))), 0).cast("long"))
      .withColumn("dnum", col("pgn") * col("bd") - col("pbn") * col("gd"))
      .withColumn("iv_micro", expr(
        "CAST(sign(dnum * woe_micro) AS BIGINT) * ((abs(dnum * woe_micro) * 2 + (gd * bd)) DIV (2 * (gd * bd)))"))
    smoothed
      .withColumn("iv_sum", sum(col("iv_micro")).over(wAll))
      .select(col("bucket"), col("n"), col("g").as("n_pos"),
        expr("(CAST(sign(woe_micro) AS BIGINT) * ((abs(woe_micro) * 2 + 100) DIV 200)) / 10000.0D")
          .as("woe"),
        expr("(CAST(sign(iv_micro) AS BIGINT) * ((abs(iv_micro) * 2 + 100) DIV 200)) / 10000.0D")
          .as("iv_contrib"),
        expr("(CAST(sign(iv_sum) AS BIGINT) * ((abs(iv_sum) * 2 + 100) DIV 200)) / 10000.0D")
          .as("iv_total"))
  }

  /** x153: IV of document length (n_chars) against the x80 Gopher keep
    * label — does raw length separate keep from drop?
    */
  def x153WoeIv(s: SparkSession, dir: String): DataFrame = {
    val labeled = Extensions20.gopherRuleCard(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        carryCols = Seq("n_chars"))
      .select(col("n_chars"), col("keep"))
    woeIv(labeled, "n_chars", "keep")
  }

  private val x153OracleSql: String = """
      WITH d AS (SELECT doc_id, n_chars, string_split(lower(text), ' ') AS tk FROM documents),
      f AS (SELECT doc_id, n_chars,
                   CAST(len(tk) AS BIGINT) AS n_words,
                   list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS sum_len,
                   len(list_filter(tk, x -> x IN ('the', 'a'))) AS n_stop,
                   CASE WHEN len(tk) >= 2
                        THEN list_transform(generate_series(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i+1])
                        ELSE [] END AS g2
            FROM d),
      r AS (SELECT doc_id, n_chars, n_words,
                   round(sum_len * 10000.0 / n_words, 0) / 10000.0 AS mean_word_len,
                   round(n_stop * 10000.0 / n_words, 0) / 10000.0 AS stop_ratio,
                   CASE WHEN len(g2) > 0
                        THEN round((len(g2) - len(list_distinct(g2))) * 10000.0 / len(g2), 0) / 10000.0
                        ELSE 0.0 END AS dup2_frac
            FROM f),
      lab AS (SELECT n_chars,
                CASE WHEN (n_words >= 50 AND n_words <= 100000)
                      AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                      AND stop_ratio <= 0.25 AND dup2_frac <= 0.2
                     THEN 1 ELSE 0 END AS y
              FROM r),
      bs AS (SELECT list_transform(
               percentile_cont([0.2, 0.4, 0.6, 0.8]) WITHIN GROUP (ORDER BY n_chars),
               b -> round(b, 4)) AS bs
             FROM lab),
      bk AS (SELECT len(list_filter(bs.bs, b -> lab.n_chars > b)) AS bucket, lab.y
             FROM lab, bs),
      agg AS (SELECT bucket, count(*) AS n, CAST(sum(y) AS BIGINT) AS g
              FROM bk GROUP BY bucket),
      ext AS (SELECT bucket, n, g, n - g AS b,
                CAST(sum(g) OVER () AS BIGINT) AS gt,
                CAST(sum(n - g) OVER () AS BIGINT) AS bt
              FROM agg),
      sm AS (SELECT *, g * 2 + 1 AS pgn, b * 2 + 1 AS pbn,
               gt * 2 + 5 AS gd, bt * 2 + 5 AS bd
             FROM ext),
      wm AS (SELECT *,
               CAST(round(1e6 * ln(CAST(pgn * bd AS DOUBLE) / (pbn * gd)), 0) AS BIGINT) AS woe_micro,
               pgn * bd - pbn * gd AS dnum
             FROM sm),
      iv AS (SELECT *,
               CAST(sign(dnum * woe_micro) AS BIGINT)
                 * ((abs(dnum * woe_micro) * 2 + (gd * bd)) // (2 * (gd * bd))) AS iv_micro
             FROM wm),
      fin AS (SELECT *, CAST(sum(iv_micro) OVER () AS BIGINT) AS iv_sum FROM iv)
      SELECT bucket, n, g AS n_pos,
             (CAST(sign(woe_micro) AS BIGINT) * ((abs(woe_micro) * 2 + 100) // 200)) / 10000.0 AS woe,
             (CAST(sign(iv_micro) AS BIGINT) * ((abs(iv_micro) * 2 + 100) // 200)) / 10000.0 AS iv_contrib,
             (CAST(sign(iv_sum) AS BIGINT) * ((abs(iv_sum) * 2 + 100) // 200)) / 10000.0 AS iv_total
      FROM fin
      ORDER BY bucket"""

  val entries: Seq[Entry] = Seq(
    Entry("x152_bot_card", x152BotCard _, x152OracleSql),
    Entry("x153_woe_iv", x153WoeIv _, x153OracleSql))
}
