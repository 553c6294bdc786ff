package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables
import graft.functions.HashFunctions

/** Seventy-fifth extension batch — any distributional difference, and
  * what weighting really costs:
  *
  *  - two-sample Kolmogorov–Smirnov (x182): the supremum gap between
  *    the two arms' empirical CDFs, computed EXACTLY off the value
  *    grid — D's argmax compares the integer |c1·n2 − c2·n1|, so the
  *    statistic cannot drift. x157's rank test reads location; KS
  *    reads ANY shape difference (variance, tails, bimodality).
  *  - Kish effective sample size (x183): ESS = (Σw)²/Σw² per source
  *    for the x71 DSIR-style importance weights — the honest "how many
  *    samples is this weighted corpus actually worth", the number that
  *    says a 10^9-doc corpus at wild weights is really 10^7.
  *
  * Determinism discipline: x182 is exact longs to the end (D renders
  * by one half-away division; the KS lambda is one shared double
  * expression); x183 micro-quantizes each weight, so (Σw)² and Σw²
  * are exact integer arithmetic with one final division.
  */
object Extensions75 {

  // ---- x182: two-sample Kolmogorov–Smirnov -------------------------------------

  /** Exact two-sample KS over per-user metric sums with the md5 arm
    * split: with cumulative counts c1(v), c2(v) on the shared value
    * grid, D = max_v |c1·n2 − c2·n1| / (n1·n2). Output one row:
    * (n_control, n_treatment, d_stat, d_at_value, ks_lambda) —
    * d_at_value = the metric value (dollars) where the gap peaks
    * (ties → smallest value); lambda = D·sqrt(n1·n2/(n1+n2)), the
    * asymptotic test scale (λ > 1.36 ≈ p < 0.05).
    *
    * Scale: the x157 grid shape — one user hash-agg, one value-grid
    * hash-agg, grid windows; the argmax is an integer comparison.
    */
  def ksTest(
      events: DataFrame, userCol: String, valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val perUser = events
      .select(col(userCol).as("u"), cents.as("cents"))
      .groupBy(col("u")).agg(sum(col("cents")).as("y"))
      .withColumn("c1",
        when(pmod(HashFunctions.md5_bucket60(col("u").cast("string")),
          lit(2L)) === 0L, 1L).otherwise(0L))
    val grid = perUser.groupBy(col("y")).agg(
      sum(col("c1")).as("a"), sum(lit(1L) - col("c1")).as("b"))
    // round-14: both arms' cumulative counts ride ONE
    // GridStats.withBelow pass (distributed prefix sums — the per-user-
    // sum grid is corpus-derived, so the former unpartitioned grid
    // windows were a one-task sort at scale); the totals travel as a
    // broadcast 1-row aggregate, the argmax as a TakeOrdered(1)
    val cum = GridStats.withBelow(grid, Seq.empty, "y", Seq("a", "b"))
      .withColumn("ca", col("below_a") + col("a"))
      .withColumn("cb", col("below_b") + col("b"))
    val tot = grid.agg(sum(col("a")).as("n1"), sum(col("b")).as("n2"))
    val gap = cum.crossJoin(broadcast(tot))
      // overflow headroom: ca·n2 and n1·n2 are PRODUCTS of per-arm user
      // counts — 3e9 users a side wraps a long (9e18). The gap/argmax
      // and the D render run in 128-bit integers (DECIMAL(38,0) here,
      // HUGEINT in the oracle): same values, exact to 1e38
      .withColumn("gap",
        expr("abs(CAST(ca AS DECIMAL(38,0)) * n2 - CAST(cb AS DECIMAL(38,0)) * n1)"))
    val gmax = gap.agg(max(col("gap")).as("gmax"))
    gap.crossJoin(broadcast(gmax))
      .filter(col("gap") === col("gmax"))
      .orderBy(col("y")).limit(1)
      .select(col("n1").as("n_control"), col("n2").as("n_treatment"),
        expr("((CAST(gmax AS DECIMAL(38,0)) * 10000 * 2 + CAST(n1 AS DECIMAL(38,0)) * n2) DIV (2 * CAST(n1 AS DECIMAL(38,0)) * n2)) / 10000.0D")
          .as("d_stat"),
        (col("y") / lit(100.0d)).as("d_at_value"),
        when(col("n1") > 0L && col("n2") > 0L, Extensions.round4o(
          (col("gmax").cast("double") / (col("n1").cast("double") * col("n2"))) *
            sqrt(col("n1").cast("double") * col("n2") /
              (col("n1") + col("n2"))))).as("ks_lambda"))
  }

  /** x182: KS A/A on the events fixture (λ should sit below 1.36). */
  def x182Ks(s: SparkSession, dir: String): DataFrame =
    ksTest(Tables.load(s, dir, "events"), "user_id", "value")

  private val x182OracleSql: String = """
      WITH pu AS (SELECT user_id AS u,
                    CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS y,
                    CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 = 0
                         THEN 1 ELSE 0 END AS c1
                  FROM events GROUP BY user_id),
      grid AS (SELECT y, CAST(sum(c1) AS BIGINT) AS a,
                      CAST(sum(1 - c1) AS BIGINT) AS b
               FROM pu GROUP BY y),
      cum AS (SELECT *,
                CAST(sum(a) OVER (ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
                CAST(sum(b) OVER (ORDER BY y
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb,
                CAST(sum(a) OVER () AS BIGINT) AS n1,
                CAST(sum(b) OVER () AS BIGINT) AS n2
              FROM grid),
      g AS (SELECT *, abs(CAST(ca AS HUGEINT) * n2 - CAST(cb AS HUGEINT) * n1) AS gap FROM cum),
      m AS (SELECT *, max(gap) OVER () AS gmax FROM g),
      f AS (SELECT *, min(CASE WHEN gap = gmax THEN y END) OVER () AS vbest FROM m)
      SELECT n1 AS n_control, n2 AS n_treatment,
             ((CAST(gmax AS HUGEINT) * 10000 * 2 + CAST(n1 AS HUGEINT) * n2) // (2 * CAST(n1 AS HUGEINT) * n2)) / 10000.0 AS d_stat,
             y / 100.0 AS d_at_value,
             CASE WHEN n1 > 0 AND n2 > 0 THEN
               round((CAST(gmax AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2))
                 * sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)) * 10000.0, 0) / 10000.0
             END AS ks_lambda
      FROM f WHERE y = vbest"""

  // ---- x183: Kish effective sample size ----------------------------------------

  /** Kish ESS per group over a weighted relation: ESS = (Σw)²/Σw² —
    * equal weights read ESS = n; one dominant weight collapses toward
    * 1. Output per group: (group_key, n, ess, efficiency) —
    * efficiency = ESS/n, 4dp.
    *
    * Exactness: weights micro-quantize per row (round(1e6·w) longs),
    * so Σw and Σw² are exact (headroom: Σw² ~ n·1e12 — exact to ~9e6
    * rows per group at unit-scale weights; larger groups should
    * pre-normalize); the two divisions are shared double expressions.
    *
    * Scale: one map pass + one group hash-agg.
    */
  def kishEss(
      weighted: DataFrame, groupCol: String, weightCol: String): DataFrame = {
    val q = round(col(weightCol).cast("double") * lit(1e6), 0).cast("long")
    weighted
      .select(col(groupCol).as("g"), q.as("w"))
      .filter(col("w") > 0L)
      .groupBy(col("g")).agg(
        count(lit(1)).as("n"),
        sum(col("w")).as("s1"),
        sum(col("w") * col("w")).as("s2"))
      .select(col("g").as("group_key"), col("n"),
        Extensions.round4o(
          (col("s1").cast("double") * col("s1")) / col("s2")).as("ess"),
        Extensions.round4o(
          (col("s1").cast("double") * col("s1")) / col("s2") / col("n"))
          .as("efficiency"))
  }

  /** x183: how many effective docs does a length-proportional weighting
    * leave per source? (weight = n_chars / 1000 — the waterfill-style
    * token weighting.)
    */
  def x183Ess(s: SparkSession, dir: String): DataFrame =
    kishEss(
      Tables.load(s, dir, "documents")
        .select(col("source"), (col("n_chars") / lit(1000.0d)).as("w")),
      "source", "w")

  private val x183OracleSql: String = """
      WITH w AS (SELECT source AS g,
                   CAST(round(n_chars / 1000.0 * 1e6, 0) AS BIGINT) AS w
                 FROM documents),
      f AS (SELECT * FROM w WHERE w > 0),
      agg AS (SELECT g, count(*) AS n,
                CAST(sum(w) AS BIGINT) AS s1,
                CAST(sum(w * w) AS BIGINT) AS s2
              FROM f GROUP BY g)
      SELECT g AS group_key, n,
             round((CAST(s1 AS DOUBLE) * s1) / s2 * 10000.0, 0) / 10000.0 AS ess,
             round((CAST(s1 AS DOUBLE) * s1) / s2 / n * 10000.0, 0) / 10000.0 AS efficiency
      FROM agg
      ORDER BY group_key"""

  val entries: Seq[Entry] = Seq(
    Entry("x182_ks_test", x182Ks _, x182OracleSql),
    Entry("x183_kish_ess", x183Ess _, x183OracleSql))
}
