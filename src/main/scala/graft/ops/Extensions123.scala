package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-twenty-third extension batch — inverse-propensity
  * weighting (x274): the MODEL-BASED observational estimator next to
  * the matching one (x260 CEM). CEM stratifies on coarsened covariates
  * and dies when cells are sparse; IPW fits a propensity model
  * e(x) = P(T=1|x) — here the x94 integer-GD logistic over hashed
  * text features, the engine's own trained-model discipline — and
  * reweights CONTROLS by the odds e/(1−e) so their covariate
  * distribution matches the treated group's (the ATT form;
  * Rosenbaum & Rubin 1983, Horvitz–Thompson/Hájek self-normalized
  * estimator with the standard propensity clip).
  *
  * Determinism: the propensity is the training loop's own rounded
  * sigmoid (micro integer), clipped to [1%, 99%] in exact micro
  * bounds; the odds weight is one half-up integer division; both
  * group means are single half-up divisions over exact long sums —
  * the whole card replays as the x265-style unrolled GD chain plus
  * one weighted aggregate.
  *
  * Scale: one corpus featurization, 8 map+agg training passes (O(F)
  * driver state), ONE final aggregate over the scored table. No
  * per-cell joins, no N² — the estimator a 100 TB observational
  * readout actually affords.
  */
object Extensions123 {

  import Extensions26.NumBuckets

  private def marginMicro(weights: Array[Long], x: Column): Column =
    graft.functions.VectorFunctions.long_dot(
      array(weights.map(lit(_)): _*), x)

  /** One-row ATT card: (n_treated, n_control, mean_t_micro,
    * mean_c_w_micro, att_micro, sum_w_micro). `treatCol`/`outcomeCol`
    * are 0/1; covariates are the hashed features of `textCol`.
    */
  def ipwAtt(
      labeled: DataFrame, idCol: String, textCol: String,
      treatCol: String, outcomeCol: String, iters: Int = 8,
      clipLoMicro: Long = 10000L, clipHiMicro: Long = 990000L): DataFrame = {
    require(clipLoMicro >= 1L && clipHiMicro <= 999999L && clipLoMicro < clipHiMicro)
    // r15: outcome carried through the featurization projection — no
    // doc_id join-back (exact by construction, one exchange fewer)
    val feat = Extensions.materialized(
      Extensions26.hashedFeaturesCarry(labeled, idCol, textCol, treatCol,
        Seq(col(outcomeCol).cast("long").as("yo"))))
    val w = Extensions26.trainLogreg(feat, iters = iters)
    ipwAttScored(feat, col("y"), w, clipLoMicro, clipHiMicro)
  }

  /** The scoring/aggregation half of [[ipwAtt]] for an already-trained
    * propensity over an already-featurized table — split out (r14) so
    * x309's placebo refutation can featurize once and train its real
    * and placebo chains fused, then run this twice. `treat` is the 0/1
    * treatment column over `feat` (the real label or the pseudo one).
    */
  private[ops] def ipwAttScored(
      feat: DataFrame, treat: Column, w: Array[Long],
      clipLoMicro: Long = 10000L, clipHiMicro: Long = 990000L): DataFrame = {
    val e = least(greatest(
      round(lit(1e6) / (lit(1.0) + exp(-marginMicro(w, col("x")) / lit(1e6))), 0)
        .cast("long"), lit(clipLoMicro)), lit(clipHiMicro))
    // control odds weight in micro: w = e/(1e6−e), half-up
    val scored = feat.select(treat.as("t"), col("yo"), e.as("e"))
      .withColumn("wm", expr("(e * 1000000 * 2 + (1000000 - e)) DIV (2 * (1000000 - e))"))
    scored.agg(
        sum(col("t")).as("n_treated"),
        sum(lit(1L) - col("t")).as("n_control"),
        sum(col("t") * col("yo")).as("syt"),
        sum((lit(1L) - col("t")) * col("wm")).as("swc"),
        sum((lit(1L) - col("t")) * col("wm") * col("yo")).as("swyc"))
      .select(col("n_treated"), col("n_control"),
        expr("(syt * 1000000 * 2 + n_treated) DIV (2 * n_treated)").as("mean_t_micro"),
        expr("(swyc * 1000000 * 2 + swc) DIV (2 * swc)").as("mean_c_w_micro"),
        col("swc").as("sum_w_micro"))
      .withColumn("att_micro", col("mean_t_micro") - col("mean_c_w_micro"))
      .select(col("n_treated"), col("n_control"), col("mean_t_micro"),
        col("mean_c_w_micro"), col("att_micro"), col("sum_w_micro"))
  }

  /** x274: the "effect" of being English on passing the Gopher quality
    * gate, controls reweighted by a propensity trained on the hashed
    * text features — the same (labels, features) world as x94/x265, so
    * the oracle replays the identical GD chain.
    */
  def x274IpwAtt(s: SparkSession, dir: String): DataFrame = {
    val labeled = Extensions20.gopherRuleCard(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        carryCols = Seq("text", "lang"))
      .select(col("doc_id"), col("text"),
        (col("lang") === "en").cast("long").as("treat"),
        col("keep").cast("long").as("outcome"))
    ipwAtt(labeled, "doc_id", "text", "treat", "outcome")
  }

  private val x274OracleSql: String = {
    val F = NumBuckets
    val head = s"""WITH d AS (
      SELECT doc_id, lang, text, string_split(lower(text), ' ') AS tk
      FROM documents),
    f0 AS (SELECT doc_id, lang, tk,
              CAST(len(tk) AS BIGINT) AS n_words,
              list_aggregate(list_transform(tk, t -> length(t)), 'sum') AS sum_len,
              len(list_filter(tk, t -> t IN ('the', 'a'))) AS n_stop,
              CASE WHEN len(tk) >= 2
                   THEN list_transform(generate_series(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i+1])
                   ELSE [] END AS g2
       FROM d),
    lab AS (SELECT doc_id, lang, tk,
        CASE WHEN n_words BETWEEN 50 AND 100000
              AND round(sum_len * 10000.0 / n_words, 0) / 10000.0 BETWEEN 3.0 AND 10.0
              AND round(n_stop * 10000.0 / n_words, 0) / 10000.0 <= 0.25
              AND (CASE WHEN len(g2) > 0
                        THEN round((len(g2) - len(list_distinct(g2))) * 10000.0 / len(g2), 0) / 10000.0
                        ELSE 0.0 END) <= 0.2
             THEN 1 ELSE 0 END AS yo
        FROM f0),
    feat AS MATERIALIZED (
      SELECT doc_id, CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y,
             CAST(yo AS BIGINT) AS yo,
             list_append(list_transform(generate_series(0, ${F - 1}),
               j -> CAST(len(list_filter(bks, b -> b = j)) AS BIGINT)), CAST(1 AS BIGINT)) AS x
      FROM (SELECT doc_id, lang, yo,
                   list_transform(tk, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % $F) AS bks
            FROM lab))"""
    val chain = Extensions117.chainG("p_", 8, "TRUE")
    s"""$head,$chain,
    sc AS (SELECT f.y AS t, f.yo,
        least(greatest(CAST(round(1e6 / (1.0 + exp(
            -CAST(list_sum(list_transform(generate_series(1, ${F + 1}),
              j -> w.w[j] * f.x[j])) AS BIGINT) / 1e6)), 0) AS BIGINT),
          10000), 990000) AS e
        FROM feat f, p_w8 w),
    wts AS (SELECT t, yo,
        (e * 1000000 * 2 + (1000000 - e)) // (2 * (1000000 - e)) AS wm
        FROM sc),
    ag AS (SELECT CAST(sum(t) AS BIGINT) AS n_treated,
                  CAST(sum(1 - t) AS BIGINT) AS n_control,
                  CAST(sum(t * yo) AS BIGINT) AS syt,
                  CAST(sum((1 - t) * wm) AS BIGINT) AS swc,
                  CAST(sum((1 - t) * wm * yo) AS BIGINT) AS swyc
           FROM wts)
    SELECT n_treated, n_control,
           CAST((syt * 1000000 * 2 + n_treated) // (2 * n_treated) AS BIGINT)
             AS mean_t_micro,
           CAST((swyc * 1000000 * 2 + swc) // (2 * swc) AS BIGINT)
             AS mean_c_w_micro,
           CAST((syt * 1000000 * 2 + n_treated) // (2 * n_treated)
             - (swyc * 1000000 * 2 + swc) // (2 * swc) AS BIGINT) AS att_micro,
           swc AS sum_w_micro
    FROM ag"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x274_ipw_att", x274IpwAtt _, x274OracleSql))
}
