package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables
import graft.functions.HashFunctions

/** Seventy-eighth extension batch — did the treatment move the funnel,
  * how seasonal is the series really:
  *
  *  - funnel arm comparison (x188): per-step conversion by md5 arm
  *    with the two-proportion z — the product question ("did the
  *    redesign move step-2?") asked against the x85 greedy-anchor
  *    funnel, not a hand-rolled one.
  *  - seasonal strength (x189): Hyndman's F_s = max(0, 1 −
  *    Var(residual)/Var(detrended)) over the x138 decomposition —
  *    one number that says whether the weekly pattern is signal
  *    (≈1) or noise (≈0), and therefore whether x179's seasonal
  *    baseline is even worth running.
  *
  * Determinism discipline: x188's counts are exact and z is one
  * shared double expression per step (pooled variance form); x189
  * reuses x138's 4dp-quantized components, so both variances are
  * integer arithmetic over 1e-4-unit longs with one final ratio.
  */
object Extensions78 {

  // ---- x188: funnel arm comparison ---------------------------------------------

  /** Per funnel transition, conversion by arm and the two-proportion
    * pooled z: users at step i who reach step i+1, control vs
    * treatment (md5 split of the user key). Output per transition:
    * (step_from, step_to, n_control, conv_control,
    * n_treatment, conv_treatment, rate_control, rate_treatment, z) —
    * z NULL when a pooled variance vanishes (nobody or everybody
    * converts).
    *
    * Scale: the x85 anchor fold (ONE user-key exchange), per-user
    * anchors hash-agged, then one ≤2(k−1)-cell aggregation.
    */
  def funnelArmCompare(
      log: DataFrame, userCol: String, typeCol: String, tsCol: String,
      steps: Seq[String], stepWindowUs: Long): DataFrame = {
    require(steps.size >= 2)
    val anchored = Extensions23.funnelAnchorFold(
      log, userCol, typeCol, tsCol, steps, stepWindowUs)
    val perUser = anchored.groupBy(col(userCol).as("u")).agg(
      steps.indices.map(i => max(col(s"t${i + 1}")).as(s"t${i + 1}")).head,
      steps.indices.map(i => max(col(s"t${i + 1}")).as(s"t${i + 1}")).tail: _*)
      .withColumn("arm",
        when(pmod(HashFunctions.md5_bucket60(col("u").cast("string")),
          lit(2L)) === 0L, lit("c")).otherwise(lit("t")))
    val aggs = (1 until steps.size).flatMap { i =>
      Seq(
        sum(when(col("arm") === "c" && col(s"t$i").isNotNull, 1L)
          .otherwise(0L)).as(s"nc$i"),
        sum(when(col("arm") === "c" && col(s"t${i + 1}").isNotNull, 1L)
          .otherwise(0L)).as(s"cc$i"),
        sum(when(col("arm") === "t" && col(s"t$i").isNotNull, 1L)
          .otherwise(0L)).as(s"nt$i"),
        sum(when(col("arm") === "t" && col(s"t${i + 1}").isNotNull, 1L)
          .otherwise(0L)).as(s"ct$i"))
    }
    val wide = perUser.agg(aggs.head, aggs.tail: _*)
    val s = log.sparkSession
    import s.implicits._
    val spine = (1 until steps.size)
      .map(i => (steps(i - 1), steps(i), i)).toDF("step_from", "step_to", "i")
    def pick(prefix: String) = (1 until steps.size).map(i =>
      when(col("i") === i, col(s"$prefix$i")))
      .reduceRight((a, b) => a.otherwise(b))
    wide.crossJoin(broadcast(spine))
      .select(col("step_from"), col("step_to"),
        pick("nc").as("n_control"), pick("cc").as("conv_control"),
        pick("nt").as("n_treatment"), pick("ct").as("conv_treatment"))
      .withColumn("rate_control", when(col("n_control") > 0L,
        expr("((conv_control * 10000 * 2 + n_control) DIV (2 * n_control)) / 10000.0D")))
      .withColumn("rate_treatment", when(col("n_treatment") > 0L,
        expr("((conv_treatment * 10000 * 2 + n_treatment) DIV (2 * n_treatment)) / 10000.0D")))
      .withColumn("z", when(
        col("n_control") > 0L && col("n_treatment") > 0L &&
          (col("conv_control") + col("conv_treatment")) > 0L &&
          (col("conv_control") + col("conv_treatment")) <
            (col("n_control") + col("n_treatment")), {
        val p = (col("conv_control") + col("conv_treatment")).cast("double") /
          (col("n_control") + col("n_treatment"))
        val se = sqrt(p * (lit(1.0d) - p) *
          (lit(1.0d) / col("n_control") + lit(1.0d) / col("n_treatment")))
        Extensions.round4o(
          (col("conv_treatment").cast("double") / col("n_treatment") -
            col("conv_control").cast("double") / col("n_control")) / se)
      }))
  }

  /** x188: the view→click→purchase funnel, compared across the md5 A/A
    * split (24 h per step).
    */
  def x188FunnelArms(s: SparkSession, dir: String): DataFrame =
    funnelArmCompare(Tables.load(s, dir, "events"), "user_id", "event_type",
      "ts", Seq("view", "click", "purchase"), 24L * 3600 * 1000000)

  private val x188OracleSql: String = """
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
      pu AS (SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3,
               CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 = 0
                    THEN 'c' ELSE 't' END AS arm
             FROM w3 GROUP BY user_id),
      wide AS (SELECT
          CAST(sum(CASE WHEN arm = 'c' AND t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nc1,
          CAST(sum(CASE WHEN arm = 'c' AND t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS cc1,
          CAST(sum(CASE WHEN arm = 't' AND t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nt1,
          CAST(sum(CASE WHEN arm = 't' AND t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ct1,
          CAST(sum(CASE WHEN arm = 'c' AND t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nc2,
          CAST(sum(CASE WHEN arm = 'c' AND t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS cc2,
          CAST(sum(CASE WHEN arm = 't' AND t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS nt2,
          CAST(sum(CASE WHEN arm = 't' AND t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ct2
        FROM pu),
      rows_ AS (
        SELECT 'view' AS step_from, 'click' AS step_to,
               nc1 AS n_control, cc1 AS conv_control,
               nt1 AS n_treatment, ct1 AS conv_treatment FROM wide
        UNION ALL
        SELECT 'click', 'purchase', nc2, cc2, nt2, ct2 FROM wide),
      z AS (SELECT *,
              CASE WHEN n_control > 0 THEN
                ((conv_control * 10000 * 2 + n_control) // (2 * n_control)) / 10000.0
              END AS rate_control,
              CASE WHEN n_treatment > 0 THEN
                ((conv_treatment * 10000 * 2 + n_treatment) // (2 * n_treatment)) / 10000.0
              END AS rate_treatment,
              CASE WHEN n_control > 0 AND n_treatment > 0
                    AND (conv_control + conv_treatment) > 0
                    AND (conv_control + conv_treatment) < (n_control + n_treatment)
                   THEN round(
                 (CAST(conv_treatment AS DOUBLE) / n_treatment
                  - CAST(conv_control AS DOUBLE) / n_control)
                 / sqrt((CAST(conv_control + conv_treatment AS DOUBLE)
                         / (n_control + n_treatment))
                        * (1.0 - CAST(conv_control + conv_treatment AS DOUBLE)
                           / (n_control + n_treatment))
                        * (1.0 / n_control + 1.0 / n_treatment)) * 10000.0, 0) / 10000.0
              END AS zz
            FROM rows_)
      SELECT step_from, step_to, n_control, conv_control, n_treatment,
             conv_treatment, rate_control, rate_treatment, zz AS z
      FROM z
      ORDER BY step_from"""

  // ---- x189: seasonal strength -------------------------------------------------

  /** Hyndman's seasonal-strength F_s = max(0, 1 − Var(resid)/
    * Var(seasonal + resid)) over the x138 decomposition (defined
    * days only). Output one row: (n_days, var_resid, var_detrended,
    * strength) — variances in 4dp-dollar² units over the quantized
    * components, so the ratio is a pure function of x138's output.
    *
    * Scale: the x138 chain + one O(periods) aggregation.
    */
  def seasonalStrength(
      events: DataFrame, tsCol: String, valueCol: String): DataFrame = {
    val dec = Extensions53.seasonalDecompose(events, tsCol, valueCol)
      .filter(col("residual").isNotNull)
      // round before the cast: v/1e4·1e4 can land an ulp under the
      // integer and a bare cast would truncate it down
      .select(round(col("seasonal") * 10000.0d, 0).cast("long").as("s4"),
        round(col("residual") * 10000.0d, 0).cast("long").as("r4"))
      .withColumn("d4", col("s4") + col("r4"))
    dec.agg(
      count(lit(1)).as("n"),
      sum(col("r4")).as("sr"), sum(col("r4") * col("r4")).as("srr"),
      sum(col("d4")).as("sd"), sum(col("d4") * col("d4")).as("sdd"))
      .select(col("n").as("n_days"),
        Extensions.round4o(
          (col("srr").cast("double") - col("sr").cast("double") * col("sr") / col("n"))
            / (col("n") - 1L) / lit(1e8)).as("var_resid"),
        Extensions.round4o(
          (col("sdd").cast("double") - col("sd").cast("double") * col("sd") / col("n"))
            / (col("n") - 1L) / lit(1e8)).as("var_detrended"),
        Extensions.round4o(greatest(lit(0.0d), lit(1.0d) - try_divide(
          col("srr").cast("double") - col("sr").cast("double") * col("sr") / col("n"),
          col("sdd").cast("double") - col("sd").cast("double") * col("sd") / col("n"))))
          .as("strength"))
  }

  /** x189: is the fixture's weekly pattern signal or noise? */
  def x189SeasonalStrength(s: SparkSession, dir: String): DataFrame =
    seasonalStrength(Tables.load(s, dir, "events"), "ts", "value")

  private val x189OracleSql: String = """
      WITH daily AS (
        SELECT date_trunc('day', ts) AS period,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS x
        FROM events GROUP BY 1),
      tr AS (SELECT period, x,
               CAST(sum(x) OVER (ORDER BY period
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS s7,
               CAST(count(x) OVER (ORDER BY period
                 ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS c7,
               datediff('day', DATE '1970-01-05', CAST(period AS DATE)) % 7 AS dow
             FROM daily),
      t4 AS (SELECT *, CASE WHEN c7 = 7 THEN
               CAST(sign(s7) AS BIGINT) * ((abs(s7) * 100 * 2 + 7) // 14)
               END AS trend4
             FROM tr),
      d4 AS (SELECT *, x * 100 - trend4 AS detr4 FROM t4),
      se AS (SELECT *,
               CAST(sum(detr4) OVER (PARTITION BY dow) AS BIGINT) AS snum,
               CAST(count(detr4) OVER (PARTITION BY dow) AS BIGINT) AS scnt
             FROM d4),
      s4 AS (SELECT *, CASE WHEN detr4 IS NOT NULL THEN
               CAST(sign(snum) AS BIGINT) * ((abs(snum) * 2 + scnt) // (2 * scnt))
               END AS seasonal4
             FROM se),
      r4 AS (SELECT *, detr4 - seasonal4 AS resid4 FROM s4
             WHERE detr4 IS NOT NULL),
      c AS (SELECT resid4 AS r4, seasonal4 + resid4 AS dd4 FROM r4),
      agg AS (SELECT count(*) AS n,
                CAST(sum(r4) AS BIGINT) AS sr, CAST(sum(r4 * r4) AS BIGINT) AS srr,
                CAST(sum(dd4) AS BIGINT) AS sd, CAST(sum(dd4 * dd4) AS BIGINT) AS sdd
              FROM c)
      SELECT n AS n_days,
             round((CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * sr / n) / (n - 1) / 1e8
                   * 10000.0, 0) / 10000.0 AS var_resid,
             round((CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n) / (n - 1) / 1e8
                   * 10000.0, 0) / 10000.0 AS var_detrended,
             round(greatest(0.0, 1.0 -
               (CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) * sr / n)
               / (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n))
               * 10000.0, 0) / 10000.0 AS strength
      FROM agg"""

  val entries: Seq[Entry] = Seq(
    Entry("x188_funnel_arms", x188FunnelArms _, x188OracleSql),
    Entry("x189_seasonal_strength", x189SeasonalStrength _, x189OracleSql))
}
