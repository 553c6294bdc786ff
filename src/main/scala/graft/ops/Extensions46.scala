package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Forty-sixth extension batch — closing two readout loops:
  *
  *  - classifier report at the calibrated gate (x125): the x94 model is
  *    trained, x105 picks the deployment threshold, x120 checks the
  *    probabilities — this emits the full confusion-matrix card (tp/fp/
  *    fn/tn, accuracy, precision, recall, F1) AT that threshold: the
  *    one-row model card a filter ships with. The calibrated threshold
  *    rides as a broadcast row, so the whole train→calibrate→evaluate
  *    chain is one plan with no driver round-trip.
  *  - difference-in-differences readout (x126): the pre/post causal
  *    estimate (Card & Krueger 1994 shape): effect = Δtreatment −
  *    Δcontrol of per-user (post − pre) spend, with the two-sample
  *    standard error and t statistic — the experiment readout when
  *    assignment isn't random-by-construction and a pre-period exists.
  *
  * Determinism discipline: x125's metrics all have exact integer
  * numerators (confusion cells; F1 = 2tp/(2tp+fp+fn) in its
  * single-division form); x126 follows the x97 sufficient-statistic
  * rule — per-user deltas are exact cent longs, arm moments are exact
  * long sums, and the only float math runs on the final ≤2-row table
  * with the cross products formed in double (the CUPED headroom fix).
  */
object Extensions46 {

  // ---- x125: classifier report at the calibrated gate -------------------------

  /** Confusion-matrix model card of scored+labeled rows at a gate
    * table's threshold. `gate` is ONE row carrying `threshold_micro`
    * (the [[Extensions32.calibrateThreshold]] output shape); it is
    * broadcast onto the scored table, rows with margin ≥ threshold
    * predict keep. Output one row: threshold_micro, tp, fp, fn, tn,
    * accuracy, precision, recall, f1 (4dp; every numerator an exact
    * long, one division per metric — F1 in its 2tp/(2tp+fp+fn) form so
    * no float ratio ever feeds another).
    *
    * Scale: one broadcast nested-loop of a 1-row table + one hash-agg
    * of four conditional counts. Empty-denominator edges (no predicted
    * positives / no actual positives) yield NULL metrics rather than a
    * division error.
    */
  def classifierReport(
      scored: DataFrame, marginCol: String, labelCol: String,
      gate: DataFrame): DataFrame = {
    val cells = scored
      .crossJoin(broadcast(gate.select(col("threshold_micro"))))
      .select(col("threshold_micro"),
        (col(marginCol) >= col("threshold_micro")).as("pred"),
        col(labelCol).cast("boolean").as("y"))
      .groupBy(col("threshold_micro"))
      .agg(
        sum(when(col("pred") && col("y"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") && !col("y"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("pred") && col("y"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("pred") && !col("y"), 1L).otherwise(0L)).as("tn"))
    // try_divide: an empty denominator (no predicted/actual positives)
    // reads NULL — the DuckDB x/0 semantics, not an ANSI error
    cells.select(col("threshold_micro"), col("tp"), col("fp"), col("fn"),
      col("tn"),
      Extensions.round4o(try_divide(col("tp") + col("tn"),
        col("tp") + col("fp") + col("fn") + col("tn"))).as("accuracy"),
      Extensions.round4o(try_divide(col("tp"), col("tp") + col("fp")))
        .as("precision"),
      Extensions.round4o(try_divide(col("tp"), col("tp") + col("fn")))
        .as("recall"),
      Extensions.round4o(try_divide(lit(2L) * col("tp"),
        lit(2L) * col("tp") + col("fp") + col("fn"))).as("f1"))
  }

  /** x125: the x94 fixture classifier's model card at the x105
    * 90%-precision calibrated threshold — train, calibrate, and
    * evaluate composed into one plan. Oracle = the x94 training replay
    * + the x105 walk + the same confusion arithmetic.
    */
  def x125ClassifierReport(s: SparkSession, dir: String): DataFrame = {
    val scored = Extensions26.fixtureScored(s, dir)
    val gate = Extensions32.calibrateThreshold(scored, "margin_micro",
      "label", targetPermille = 900)
    classifierReport(scored, "margin_micro", "label", gate)
  }

  private val x125OracleSql: String = {
    val F1 = Extensions26.NumBuckets + 1
    Extensions26.logregOracleChain(8) + s""",
    scored AS (
      SELECT f.doc_id, f.y AS label,
             CAST(list_sum(list_transform(generate_series(1, $F1), j -> w.w[j] * f.x[j])) AS BIGINT) AS margin
      FROM feat f, w8 w),
    pm AS (SELECT margin, count(*) AS n, CAST(sum(label) AS BIGINT) AS npos
           FROM scored GROUP BY margin),
    walk AS (SELECT margin,
                    CAST(sum(n) OVER (ORDER BY margin DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS kept,
                    CAST(sum(npos) OVER (ORDER BY margin DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp
             FROM pm),
    gate AS (SELECT margin AS threshold_micro FROM walk
             WHERE tp * 1000 >= kept * 900
             ORDER BY kept DESC, margin LIMIT 1),
    cells AS (
      SELECT g.threshold_micro,
             CAST(sum(CASE WHEN s.margin >= g.threshold_micro AND s.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(sum(CASE WHEN s.margin >= g.threshold_micro AND s.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(sum(CASE WHEN s.margin < g.threshold_micro AND s.label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(sum(CASE WHEN s.margin < g.threshold_micro AND s.label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM scored s, gate g
      GROUP BY g.threshold_micro)
    SELECT threshold_micro, tp, fp, fn, tn,
           round((tp + tn) * 1.0 / (tp + fp + fn + tn) * 10000.0, 0) / 10000.0 AS accuracy,
           round(tp * 1.0 / (tp + fp) * 10000.0, 0) / 10000.0 AS "precision",
           round(tp * 1.0 / (tp + fn) * 10000.0, 0) / 10000.0 AS recall,
           round(2 * tp * 1.0 / (2 * tp + fp + fn) * 10000.0, 0) / 10000.0 AS f1
    FROM cells"""
  }

  // ---- x126: difference-in-differences readout --------------------------------

  /** DiD over an event stream: per-unit (post − pre) value deltas in
    * exact cents, md5-split arms (the x97 assignment), arm-level
    * sufficient statistics (n, Σd, Σd²), and the readout row:
    * effect = mean_T(d) − mean_C(d), se = √(s²_T/n_T + s²_C/n_C),
    * t = effect/se. Output one row per arm (n_units,
    * mean_pre, mean_post, mean_delta) with the corpus-constant
    * effect_cents / se_cents / t_stat repeated (the x120 self-contained
    * report shape).
    *
    * Scale: one corpus scan → per-unit hash-agg → 2-row arm agg;
    * all float math on the final 2-row table, cross products in double
    * (the x97 headroom rule: Σd ~1e13 at 10⁹ users must not square in
    * BIGINT).
    */
  def didReadout(
      events: DataFrame, userCol: String, tsCol: String, valueCol: String,
      splitTs: String): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val perUser = events
      .select(col(userCol).as("user_id"),
        (col(tsCol) < to_timestamp(lit(splitTs))).as("is_pre"), cents.as("cents"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("is_pre"), col("cents")).otherwise(0L)).as("x"),
        sum(when(!col("is_pre"), col("cents")).otherwise(0L)).as("y"))
      .withColumn("arm",
        when(pmod(graft.functions.HashFunctions.md5_bucket60(
          col("user_id").cast("string")), lit(2L)) === 0L, lit("control"))
          .otherwise(lit("treatment")))
      .withColumn("d", col("y") - col("x"))
    val stats = Extensions.materialized(perUser.groupBy(col("arm")).agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("d")).as("sd"), sum(col("d") * col("d")).as("sdd")))
    // RATIONAL outputs (means, effect) round via exact sign-split
    // half-away integer division — a float round() diverges across
    // engines exactly when the true value lands ON a 4dp half-boundary
    // (sd·100/n CAN be a dyadic .5: hit at sf0.001). Headroom: |sd|·200
    // and |sdT·nC − sdC·nT|·200 must stay < 2^63 — fine to ~$10M total
    // delta per 1e6-unit arm; beyond that pre-scale to whole cents.
    // se/t keep float round(): a sqrt is irrational off a measure-zero
    // set, the accepted x84 ln-discipline risk class.
    def r4(num: String, den: String): String =
      s"(CAST(sign($num) AS BIGINT) * ((abs($num) * 2 + ($den)) DIV (2 * ($den)))) / 10000.0D"
    // arm variance of d from the exact sums; cross product in DOUBLE
    def varD = (col("sdd") - col("sd").cast("double") * col("sd") / col("n")) /
      (col("n") - 1)
    val eff = stats.groupBy()
      .agg(
        sum(when(col("arm") === "treatment", col("sd")).otherwise(0L)).as("sdt"),
        sum(when(col("arm") === "treatment", col("n")).otherwise(0L)).as("nt"),
        sum(when(col("arm") =!= "treatment", col("sd")).otherwise(0L)).as("sdc"),
        sum(when(col("arm") =!= "treatment", col("n")).otherwise(0L)).as("nc"),
        sum(varD / col("n")).as("se2"))
      .select(
        ((col("sdt") * col("nc") - col("sdc") * col("nt")) * 100L).as("eff_num"),
        (col("nt") * col("nc")).as("eff_den"),
        (col("sdt").cast("double") / col("nt")
          - col("sdc").cast("double") / col("nc")).as("effect"),
        sqrt(col("se2")).as("se"))
    stats.crossJoin(broadcast(eff))
      .select(col("arm"), col("n").as("n_units"),
        (col("sx") * 100L).as("pre_num"), (col("sy") * 100L).as("post_num"),
        (col("sd") * 100L).as("delta_num"), col("n").as("den"),
        col("eff_num"), col("eff_den"), col("effect"), col("se"))
      .select(col("arm"), col("n_units"),
        expr(r4("pre_num", "den")).as("mean_pre"),
        expr(r4("post_num", "den")).as("mean_post"),
        expr(r4("delta_num", "den")).as("mean_delta"),
        expr(r4("eff_num", "eff_den")).as("effect_cents"),
        round(col("se") / 100.0d, 4).as("se_cents"),
        round(col("effect") / col("se"), 4).as("t_stat"))
  }

  /** x126: DiD over the events fixture, split at the x97 boundary. */
  def x126Did(s: SparkSession, dir: String): DataFrame =
    didReadout(Tables.load(s, dir, "events"), "user_id", "ts", "value",
      "2024-01-15 00:00:00")

  private val x126OracleSql: String = """
      WITH pu AS (
        SELECT user_id,
               CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                             THEN CAST(round(value * 100.0, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
               CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                             THEN CAST(round(value * 100.0, 0) AS BIGINT) ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY user_id),
      pa AS (SELECT user_id, x, y, y - x AS d,
               CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS arm
             FROM pu),
      st AS (SELECT arm, count(*) AS n,
                    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                    CAST(sum(d) AS BIGINT) AS sd, CAST(sum(d * d) AS BIGINT) AS sdd
             FROM pa GROUP BY arm),
      w AS (SELECT arm, n, sd,
                   (sdd - CAST(sd AS DOUBLE) * sd / n) / (n - 1) AS v
            FROM st),
      eff AS (SELECT CAST(sum(CASE WHEN arm = 'treatment' THEN sd ELSE 0 END) AS BIGINT) AS sdt,
                     CAST(sum(CASE WHEN arm = 'treatment' THEN n ELSE 0 END) AS BIGINT) AS nt,
                     CAST(sum(CASE WHEN arm <> 'treatment' THEN sd ELSE 0 END) AS BIGINT) AS sdc,
                     CAST(sum(CASE WHEN arm <> 'treatment' THEN n ELSE 0 END) AS BIGINT) AS nc,
                     sum(CASE WHEN arm = 'treatment' THEN CAST(sd AS DOUBLE) / n
                              ELSE -CAST(sd AS DOUBLE) / n END) AS effect,
                     sqrt(sum(v / n)) AS se
              FROM w)
      SELECT st.arm, st.n AS n_units,
             (CAST(sign(st.sx * 100) AS BIGINT) * ((abs(st.sx * 100) * 2 + st.n) // (2 * st.n))) / 10000.0 AS mean_pre,
             (CAST(sign(st.sy * 100) AS BIGINT) * ((abs(st.sy * 100) * 2 + st.n) // (2 * st.n))) / 10000.0 AS mean_post,
             (CAST(sign(st.sd * 100) AS BIGINT) * ((abs(st.sd * 100) * 2 + st.n) // (2 * st.n))) / 10000.0 AS mean_delta,
             (CAST(sign((eff.sdt * eff.nc - eff.sdc * eff.nt) * 100) AS BIGINT)
               * ((abs((eff.sdt * eff.nc - eff.sdc * eff.nt) * 100) * 2 + eff.nt * eff.nc)
                  // (2 * eff.nt * eff.nc))) / 10000.0 AS effect_cents,
             round(eff.se / 100.0, 4) AS se_cents,
             round(eff.effect / eff.se, 4) AS t_stat
      FROM st, eff
      ORDER BY st.arm"""

  val entries: Seq[Entry] = Seq(
    Entry("x125_classifier_report", x125ClassifierReport _, x125OracleSql),
    Entry("x126_did_readout", x126Did _, x126OracleSql))
}
