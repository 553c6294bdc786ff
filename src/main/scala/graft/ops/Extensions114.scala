package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-fourteenth extension batch:
  *
  *  - Coarsened-exact-matching treatment effect (x260): the
  *    OBSERVATIONAL causal estimator the experiment family (x97 CUPED,
  *    x110 mSPRT, x135 QTE — all randomized-arm readouts) does not
  *    cover. CEM (Iacus, King & Porro 2012): coarsen the confounders
  *    into cells, keep cells containing BOTH arms, estimate the effect
  *    within each cell, weight by treated count → the ATT. Exact
  *    matching on the coarsened cell IS stratification on the
  *    saturated (nonparametric) propensity score — within a cell the
  *    treated share is constant by construction, so confounding through
  *    the coarsened covariates is removed without fitting a model.
  *    Pruned (unmatched) units are reported, not hidden — CEM's honesty
  *    property.
  *  - Per-group bounded top-k via the typed [[graft.functions.TopKFold]]
  *    Aggregator (x261): the execution alternative to the window-rank
  *    idiom — partial aggregation ships ≤ k entries per group per map
  *    partition instead of sort-shuffling every row. Same answer as
  *    `row_number()` (score desc, id asc), different physical shape;
  *    PlanShape11Spec asserts no Window/Sort touches the input.
  *
  * Determinism: outcomes quantize to integer cents per row BEFORE any
  * sum (double-summation order never matters); means and the ATT render
  * micro via the `(2·num + den) DIV (2·den)` house form in
  * DECIMAL(38,0)/HUGEINT.
  */
object Extensions114 {

  // ---- x260: coarsened-exact-matching ATT --------------------------------------

  /** CEM ATT card: units (`unitCol`) with integer treatment 0/1, an
    * integer-cents outcome, and pre-coarsened covariate cell columns.
    * One row per MATCHED cell (both arms present): arm sizes, arm mean
    * outcomes (micro), the cell effect, plus the global ATT and the
    * pruned-unit counts repeated per row (the card convention). Cells
    * with one arm are pruned from estimation but counted.
    *
    * Scale shape: one groupBy(cells, arm) over units, a pivot-free
    * self-pair of the two arm rows per cell, one 1-row global agg
    * broadcast back. Nothing unit-sized survives the first fold.
    */
  def cemAtt(
      units: DataFrame, treatCol: String, outcomeCentsCol: String,
      cellCols: Seq[String]): DataFrame = {
    require(cellCols.nonEmpty)
    val byArm = Extensions.materialized(
      units.groupBy((cellCols.map(col) :+ col(treatCol).as("arm")): _*)
        .agg(count(lit(1)).as("n"), sum(col(outcomeCentsCol)).as("y")))
    val t = byArm.filter(col("arm") === 1)
      .select((cellCols.map(col) :+ col("n").as("n1") :+ col("y").as("y1")): _*)
    val c = byArm.filter(col("arm") === 0)
      .select((cellCols.map(col) :+ col("n").as("n0") :+ col("y").as("y0")): _*)
    val matched = t.join(c, cellCols) // inner: both arms present
      .withColumn("y1m", expr(
        "CAST((2 * 1000000 * CAST(y1 AS DECIMAL(38,0)) + n1) DIV (2 * CAST(n1 AS DECIMAL(38,0))) AS BIGINT)"))
      .withColumn("y0m", expr(
        "CAST((2 * 1000000 * CAST(y0 AS DECIMAL(38,0)) + n0) DIV (2 * CAST(n0 AS DECIMAL(38,0))) AS BIGINT)"))
    // ATT: sum over matched cells of n1·(ȳ1 − ȳ0) / Σn1, in exact
    // integers — per-cell numerators stay as the cents fractions
    // n1·y1/n1 − n1·y0/n0 = y1 − n1·y0/n0, commonly denominated on n0
    val tot = matched.agg(
      sum(expr("CAST(y1 AS DECIMAL(38,0)) * n0 - CAST(y0 AS DECIMAL(38,0)) * n1")).as("num"),
      sum(expr("CAST(n1 AS DECIMAL(38,0)) * n0")).as("den"),
      sum(col("n1")).as("mt"), sum(col("n0")).as("mc"))
    val pruned = units.agg(
      sum(when(col(treatCol) === 0, 1L).otherwise(0L)).as("all0"),
      sum(when(col(treatCol) === 1, 1L).otherwise(0L)).as("all1"))
    matched
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(pruned))
      .select((cellCols.map(col) :+
        col("n1") :+ col("n0") :+
        col("y1m").as("y1_mean_micro") :+ col("y0m").as("y0_mean_micro") :+
        (col("y1m") - col("y0m")).as("cell_effect_micro") :+
        expr("""CAST(CASE WHEN num >= 0
                 THEN (2 * 1000000 * num + den) DIV (2 * den)
                 ELSE -((2 * 1000000 * (-num) + den) DIV (2 * den)) END AS BIGINT)""")
          .as("att_micro") :+
        (col("all1") - col("mt")).as("pruned_treated") :+
        (col("all0") - col("mc")).as("pruned_control")): _*)
  }

  /** x260 fixture: does heavy clicking (≥ 15 clicks) lift purchase
    * spend, confounded by raw activity? Units are users; cells =
    * activity decade bucket × error-share quartile — both mechanically
    * correlated with the click count AND with spend (more events ⇒
    * more of everything), exactly the confounding CEM removes.
    */
  def x260CemAtt(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val units = e.groupBy(col("user_id"))
      .agg(
        when(sum(when(col("event_type") === "click", 1L).otherwise(0L)) >= 15L,
          1L).otherwise(0L).as("treated"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100, 0).cast("long")).otherwise(0L)).as("spend_cents"),
        count(lit(1)).as("n_ev"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
      .select(col("user_id"), col("treated"), col("spend_cents"),
        least(floor(col("n_ev") / 10), lit(9L)).as("activity_bucket"),
        floor(col("n_err") * 4 / col("n_ev")).as("err_bucket"))
    cemAtt(units, "treated", "spend_cents",
        Seq("activity_bucket", "err_bucket"))
  }

  private val x260OracleSql: String = """
      WITH units AS (
        SELECT user_id,
               CASE WHEN sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) >= 15
                    THEN 1 ELSE 0 END AS treated,
               sum(CASE WHEN event_type = 'purchase'
                   THEN CAST(round(value * 100, 0) AS BIGINT) ELSE 0 END) AS spend,
               least(count(*) // 10, 9) AS activity_bucket,
               CAST((4 * sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END))
                 // count(*) AS BIGINT) AS err_bucket
        FROM events GROUP BY user_id),
      byarm AS (SELECT activity_bucket, err_bucket, treated AS arm,
                       CAST(count(*) AS BIGINT) AS n, sum(spend) AS y
                FROM units GROUP BY 1, 2, 3),
      m AS (SELECT t.activity_bucket, t.err_bucket, t.n AS n1, t.y AS y1,
                   c.n AS n0, c.y AS y0
            FROM byarm t JOIN byarm c
              ON t.activity_bucket = c.activity_bucket
             AND t.err_bucket = c.err_bucket AND t.arm = 1 AND c.arm = 0),
      tot AS (SELECT sum(CAST(y1 AS HUGEINT) * n0 - CAST(y0 AS HUGEINT) * n1) AS num,
                     sum(CAST(n1 AS HUGEINT) * n0) AS den,
                     sum(n1) AS mt, sum(n0) AS mc FROM m),
      pr AS (SELECT sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS all0,
                    sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS all1
             FROM units)
      SELECT m.activity_bucket, m.err_bucket, m.n1, m.n0,
             CAST((2 * 1000000 * CAST(m.y1 AS HUGEINT) + m.n1)
               // (2 * CAST(m.n1 AS HUGEINT)) AS BIGINT) AS y1_mean_micro,
             CAST((2 * 1000000 * CAST(m.y0 AS HUGEINT) + m.n0)
               // (2 * CAST(m.n0 AS HUGEINT)) AS BIGINT) AS y0_mean_micro,
             CAST((2 * 1000000 * CAST(m.y1 AS HUGEINT) + m.n1)
               // (2 * CAST(m.n1 AS HUGEINT)) AS BIGINT)
             - CAST((2 * 1000000 * CAST(m.y0 AS HUGEINT) + m.n0)
               // (2 * CAST(m.n0 AS HUGEINT)) AS BIGINT) AS cell_effect_micro,
             CAST(CASE WHEN t.num >= 0
                  THEN (2 * 1000000 * t.num + t.den) // (2 * t.den)
                  ELSE -((2 * 1000000 * (-t.num) + t.den) // (2 * t.den))
                  END AS BIGINT) AS att_micro,
             CAST(p.all1 - t.mt AS BIGINT) AS pruned_treated,
             CAST(p.all0 - t.mc AS BIGINT) AS pruned_control
      FROM m, tot t, pr p
      ORDER BY m.activity_bucket, m.err_bucket"""

  // ---- x261: typed bounded top-k per group -------------------------------------

  /** Per-group top-k (score desc, id asc) through [[graft.functions.TopKFold]]
    * — answer-identical to the window-rank idiom, physically a partial
    * aggregation (≤ k entries per group per map partition cross the
    * shuffle; nothing row-sized is sorted). Output: (g, id, score, rk).
    */
  def topKPerGroup(
      rel: DataFrame, groupCol: String, idCol: String, scoreCol: String,
      k: Int): DataFrame = {
    val s = rel.sparkSession
    import s.implicits._
    val ds = rel.select(col(groupCol).cast("long"), col(idCol).cast("long"),
      col(scoreCol).cast("long")).as[(Long, Long, Long)]
    val folded = ds.groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new graft.functions.TopKFold(k).toColumn.name("top"))
    folded.toDF("g", "top")
      .select(col("g"), posexplode(col("top")).as(Seq("p", "e")))
      .select(col("g"), col("e._1").as("id"), col("e._2").as("score"),
        (col("p") + 1).cast("long").as("rk"))
  }

  /** x261: top-3 highest-value line items per supplier (price cents,
    * ties by the packed line id orderkey·10 + linenumber).
    */
  def x261TopKAgg(s: SparkSession, dir: String): DataFrame =
    topKPerGroup(
      Tables.load(s, dir, "lineitem").select(
        col("l_suppkey").as("g"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("id"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("score")),
      "g", "id", "score", k = 3)

  private val x261OracleSql: String = """
      SELECT g, id, score, CAST(rk AS BIGINT) AS rk FROM (
        SELECT l_suppkey AS g,
               l_orderkey * 10 + l_linenumber AS id,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS score,
               row_number() OVER (PARTITION BY l_suppkey
                 ORDER BY CAST(round(l_extendedprice * 100, 0) AS BIGINT) DESC,
                          l_orderkey * 10 + l_linenumber) AS rk
        FROM lineitem)
      WHERE rk <= 3
      ORDER BY g, rk"""

  val entries: Seq[Entry] = Seq(
    Entry("x260_cem_att", x260CemAtt _, x260OracleSql),
    Entry("x261_topk_agg", x261TopKAgg _, x261OracleSql))
}
