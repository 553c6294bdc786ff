package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Fifty-first extension batch — many metrics, honest error rates:
  *
  *  - per-group mSPRT + Benjamini–Hochberg correction (x134): run the
    *    x110 always-valid monitor per METRIC (here: per event type) and
    *    control the false-discovery rate across the family (Benjamini &
    *    Hochberg 1995) — the step every multi-metric experiment readout
    *    skips at its peril: 20 metrics at α=0.05 expect one fake win.
  *  - quantile treatment effects (x135): per-decile arm difference of
  *    the outcome distribution — a mean effect can hide "the top decile
  *    gained, the median lost"; QTE is the distributional readout
  *    (Doksum 1974 shape).
  *
  * Determinism discipline: the BH walk compares EXACT integers
  * (pm·m ≤ rank·α_permille·10, with pm the 4dp p-value at 1e4 scale —
  * already exactly integer-valued by x110's rounding contract); the
  * mSPRT float math stays on ≤ groups rows from exact sufficient
  * statistics. x135's deciles run the q74 percentile contract (exact
  * interpolation over integer cents is bit-identical across engines).
  */
object Extensions51 {

  // ---- x134: per-group mSPRT + BH correction ----------------------------------

  /** The x110 always-valid readout computed per `groupCol` value in one
    * plan: per-(group, user) exact cent sums, per-(group, arm)
    * sufficient statistics, and the mixture likelihood ratio on the
    * ≤ groups wide table. Output (group, n_control, n_treatment, delta,
    * p_always_valid).
    */
  def msprtByGroup(
      events: DataFrame, groupCol: String, userCol: String, tsCol: String,
      valueCol: String, splitTs: String,
      tauSqCents2: Double = 1.0e8d): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val perUser = events
      .filter(col(tsCol) >= to_timestamp(lit(splitTs)))
      .select(col(groupCol).as("grp"), col(userCol).as("user_id"),
        cents.as("cents"))
      .groupBy(col("grp"), col("user_id")).agg(sum(col("cents")).as("y"))
      .withColumn("arm",
        when(pmod(graft.functions.HashFunctions.md5_bucket60(
          col("user_id").cast("string")), lit(2L)) === 0L, lit("control"))
          .otherwise(lit("treatment")))
    val wide = perUser.groupBy(col("grp")).agg(
      sum(when(col("arm") === "control", 1L).otherwise(0L)).as("nc"),
      sum(when(col("arm") === "control", col("y")).otherwise(0L)).as("syc"),
      sum(when(col("arm") === "control", col("y") * col("y")).otherwise(0L))
        .as("syyc"),
      sum(when(col("arm") === "treatment", 1L).otherwise(0L)).as("nt"),
      sum(when(col("arm") === "treatment", col("y")).otherwise(0L)).as("syt"),
      sum(when(col("arm") === "treatment", col("y") * col("y")).otherwise(0L))
        .as("syyt"))
    val meanC = col("syc").cast("double") / col("nc")
    val meanT = col("syt").cast("double") / col("nt")
    val ssC = col("syyc") - col("syc").cast("double") * col("syc") / col("nc")
    val ssT = col("syyt") - col("syt").cast("double") * col("syt") / col("nt")
    val s2 = (ssC + ssT) / (col("nc") + col("nt") - 2)
    val v = s2 * (lit(1.0d) / col("nc") + lit(1.0d) / col("nt"))
    val delta = meanT - meanC
    val tau2 = lit(tauSqCents2)
    val logLambda = lit(0.5d) * log(v / (v + tau2)) +
      tau2 * delta * delta / (lit(2.0d) * v * (v + tau2))
    // groups without >= 2 users per arm have no pooled variance — drop
    // them rather than emit NaN (documented contract)
    wide.filter(col("nc") >= 2L && col("nt") >= 2L)
      .select(col("grp"),
        col("nc").as("n_control"), col("nt").as("n_treatment"),
        round(delta / 100.0d, 4).as("delta"),
        round(least(lit(1.0d), exp(-logLambda)), 4).as("p_always_valid"))
  }

  /** Benjamini–Hochberg step-up over a (key, p) table: rank p-values
    * ascending (ties by key), find the largest rank with
    * p ≤ rank·α/m, and mark every hypothesis at or below it
    * discovered. The comparison is EXACT: with pm = p·10⁴ (an integer
    * by the 4dp contract), p ≤ rank·α/m ⟺ pm·m ≤ rank·α_permille·10.
    * Output (key, p_value, bh_rank, bh_critical, discovered).
    *
    * Thin adapter over [[GridStats.bhStepUp]] (round-14, verdict task
    * 7: the former unpartitioned rank/max windows over the hypothesis
    * table — fine at ≤10⁶ metrics but inconsistent with the x328 plan —
    * now ride the distributed global rank + broadcast cutoff). Kernel
    * sibling: x328 [[Extensions144.bhFdr]] — same walk, micro-long
    * p-values and no critical column there.
    */
  def bhCorrect(
      pvals: DataFrame, keyCol: String, pCol: String,
      alphaPermille: Int = 50): DataFrame = {
    GridStats.bhStepUp(
        pvals.select(col(keyCol).as("key"), col(pCol).as("p")),
        "key", "p",
        (p, m, rk) =>
          round(p * 1e4, 0).cast("long") * m <= rk * alphaPermille * 10L)
      .select(col("key"), col("p").as("p_value"),
        col("rk").as("bh_rank"),
        Extensions.round4o(col("rk") * lit(alphaPermille)
          / (lit(1000.0) * col("m"))).as("bh_critical"),
        col("rejected").as("discovered"))
  }

  /** x134: per-event-type mSPRT p-values, BH-corrected at α = 0.05 —
    * the multi-metric experiment readout with family-wise FDR control.
    */
  def x134MsprtBh(s: SparkSession, dir: String): DataFrame = {
    val p = msprtByGroup(Tables.load(s, dir, "events"), "event_type",
      "user_id", "ts", "value", "2024-01-16 00:00:00")
    bhCorrect(p.select(col("grp"), col("p_always_valid")), "grp",
        "p_always_valid")
      .withColumnRenamed("key", "event_type")
  }

  private val x134OracleSql: String = """
      WITH pu AS (
        SELECT event_type AS grp, user_id,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS y,
               CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS arm
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
        GROUP BY event_type, user_id),
      wide AS (SELECT grp,
                 CAST(sum(CASE WHEN arm = 'control' THEN 1 ELSE 0 END) AS BIGINT) AS nc,
                 CAST(sum(CASE WHEN arm = 'control' THEN y ELSE 0 END) AS BIGINT) AS syc,
                 CAST(sum(CASE WHEN arm = 'control' THEN y * y ELSE 0 END) AS BIGINT) AS syyc,
                 CAST(sum(CASE WHEN arm = 'treatment' THEN 1 ELSE 0 END) AS BIGINT) AS nt,
                 CAST(sum(CASE WHEN arm = 'treatment' THEN y ELSE 0 END) AS BIGINT) AS syt,
                 CAST(sum(CASE WHEN arm = 'treatment' THEN y * y ELSE 0 END) AS BIGINT) AS syyt
               FROM pu GROUP BY grp),
      calc AS (SELECT grp,
                      ((syyc - CAST(syc AS DOUBLE) * syc / nc)
                       + (syyt - CAST(syt AS DOUBLE) * syt / nt)) / (nc + nt - 2)
                        * (1.0 / nc + 1.0 / nt) AS v,
                      CAST(syt AS DOUBLE) / nt - CAST(syc AS DOUBLE) / nc AS delta
               FROM wide
               WHERE nc >= 2 AND nt >= 2),
      pv AS (SELECT grp,
                    round(least(1.0, exp(-(0.5 * ln(v / (v + 1e8))
                      + 1e8 * delta * delta / (2.0 * v * (v + 1e8))))), 4) AS p
             FROM calc),
      mm AS (SELECT count(*) AS m FROM pv),
      rk AS (SELECT grp, p,
                    CAST(row_number() OVER (ORDER BY p, grp) AS BIGINT) AS bh_rank,
                    CAST(round(p * 1e4, 0) AS BIGINT) AS pm, mm.m
             FROM pv, mm),
      mk AS (SELECT max(CASE WHEN pm * m <= bh_rank * 50 * 10 THEN bh_rank END) AS maxk
             FROM rk)
      SELECT rk.grp AS event_type, rk.p AS p_value, rk.bh_rank,
             round(rk.bh_rank * 50 / (1000.0 * rk.m) * 10000.0, 0) / 10000.0 AS bh_critical,
             COALESCE(rk.bh_rank <= mk.maxk, FALSE) AS discovered
      FROM rk, mk
      ORDER BY rk.bh_rank"""

  // ---- x135: quantile treatment effects ---------------------------------------

  /** Per-decile treatment effect of per-unit outcome cents: the exact
    * interpolated deciles of each arm's per-user post-period spend and
    * their differences. Output (pct, q_control, q_treatment,
    * qte_cents) for pct 10..90 — q values are raw interpolated cents
    * (bit-identical across engines per the q74 percentile contract),
    * the effect rounds to 4dp.
    *
    * Scale: one user-key hash-agg, then ONE percentile buffer per arm
    * (partial-aggregated order statistics) — no sort of the corpus,
    * no window.
    */
  def quantileTreatmentEffects(
      events: DataFrame, userCol: String, tsCol: String, valueCol: String,
      splitTs: String): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val perUser = events
      .filter(col(tsCol) >= to_timestamp(lit(splitTs)))
      .select(col(userCol).as("user_id"), cents.as("cents"))
      .groupBy(col("user_id")).agg(sum(col("cents")).as("y"))
      .withColumn("arm",
        when(pmod(graft.functions.HashFunctions.md5_bucket60(
          col("user_id").cast("string")), lit(2L)) === 0L, lit("control"))
          .otherwise(lit("treatment")))
    val fracs = "array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D, 0.9D)"
    val wide = perUser.agg(
      expr(s"percentile(CASE WHEN arm = 'control' THEN y END, $fracs)")
        .as("qcs"),
      expr(s"percentile(CASE WHEN arm = 'treatment' THEN y END, $fracs)")
        .as("qts"))
    wide
      .select(posexplode(arrays_zip(col("qcs"), col("qts"))).as(Seq("pos", "z")))
      .select(((col("pos") + 1) * 10).cast("long").as("pct"),
        col("z.qcs").as("q_control"), col("z.qts").as("q_treatment"))
      .withColumn("qte",
        round((col("q_treatment") - col("q_control")) / lit(100.0d), 4))
  }

  /** x135: QTE of the events fixture post-period (the x110 split). */
  def x135Qte(s: SparkSession, dir: String): DataFrame =
    quantileTreatmentEffects(Tables.load(s, dir, "events"), "user_id",
      "ts", "value", "2024-01-16 00:00:00")

  private val x135OracleSql: String = """
      WITH pu AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS y,
               CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS arm
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
        GROUP BY user_id),
      qa AS (SELECT percentile_cont([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                      WITHIN GROUP (ORDER BY y) AS qcs
             FROM pu WHERE arm = 'control'),
      qb AS (SELECT percentile_cont([0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
                      WITHIN GROUP (ORDER BY y) AS qts
             FROM pu WHERE arm = 'treatment'),
      qs AS (SELECT CAST(g.i * 10 AS BIGINT) AS pct,
                    qa.qcs[g.i] AS q_control, qb.qts[g.i] AS q_treatment
             FROM qa, qb, generate_series(1, 9) AS g(i))
      SELECT pct, q_control, q_treatment,
             round((q_treatment - q_control) / 100.0, 4) AS qte
      FROM qs
      ORDER BY pct"""

  val entries: Seq[Entry] = Seq(
    Entry("x134_msprt_bh", x134MsprtBh _, x134OracleSql),
    Entry("x135_qte", x135Qte _, x135OracleSql))
}
