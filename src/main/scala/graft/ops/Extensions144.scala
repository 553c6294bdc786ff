package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-forty-fourth extension batch — two guardrails the
  * experimentation tier still lacked:
  *
  *  - BENJAMINI–HOCHBERG FDR (x328): the step-up multiple-testing
  *    correction (Benjamini & Hochberg 1995) — a metrics platform that
  *    ships one x314/x315/x323 test per metric WILL false-positive at
  *    the family level; BH bounds the false-discovery rate with one
  *    integer compare per metric. The rank is the distributed global
  *    rank, the acceptance test is pure integers (p·m·1000 ≤ α‰·i·10⁶),
  *    and the step-up cutoff is one max over accepted ranks.
  *  - WINSORIZED MEAN CARD (x329): the robust-metric twin of the plain
  *    mean — clamp below/above the exact lo/hi permille order
  *    statistics (value-grid cumulative counts, never a row-level
  *    sort) and report both means plus how many rows each side
  *    clipped. The heavy-tail guard every revenue metric needs before
  *    a single whale user decides the experiment.
  *
  * Determinism: both are integer-exact end to end — order statistics
  * come off cumulative counts over the value grid, means are half-up
  * micro of DECIMAL sums. Scale: BH is one global rank + one windowed
  * max over the metric table (metrics ≪ corpus); winsorize is one
  * hash-agg to the value grid + a bounded grid window (the x157
  * shape).
  */
object Extensions144 {

  // ---- x328: Benjamini–Hochberg FDR ---------------------------------------------------

  /** Step-up BH over per-metric p-values (micro): one row per metric —
    * (metric id, p_micro, rk, rejected) where `rejected` marks every
    * rank ≤ i* = max{i : p_(i)·m·1000 ≤ α‰·i·10⁶}. Ties on p break by
    * the id column (both engines sort the same tuple).
    *
    * Thin adapter over [[GridStats.bhStepUp]] (round-14: one BH walk in
    * the house). Kernel sibling: x134 [[Extensions51.bhCorrect]] — same
    * step-up, 4dp double p-values and a critical-value column there,
    * micro longs here. The accept test is all DECIMAL (p·m wraps a long
    * past ~9e6 metrics at p near 1e6); m and the cutoff travel as
    * broadcast 1-row tables — never an unpartitioned window over the
    * metric table.
    */
  def bhFdr(
      metrics: DataFrame, idCol: String, pMicroCol: String,
      alphaPermille: Int = 50): DataFrame = {
    require(alphaPermille >= 1 && alphaPermille <= 999)
    val base = metrics.select(col(idCol).as("metric_id"),
      col(pMicroCol).cast("long").as("p_micro"))
    GridStats.bhStepUp(base, "metric_id", "p_micro",
        (p, m, rk) =>
          (p.cast("decimal(38,0)") * m * 1000L) <=
            (lit(alphaPermille.toLong).cast("decimal(38,0)") * rk * 1000000L))
      .select(col("metric_id"), col("p_micro"), col("rk"), col("rejected"))
  }

  /** x328: 600 synthetic per-document metrics with md5-manufactured
    * p-values — a fifth of them planted small so the step-up cutoff
    * lands mid-table.
    */
  def x328BhFdr(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions.md5_bucket60
    val mx = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5L)) === 0L,
          pmod(md5_bucket60(concat(lit("p:"), col("doc_id").cast("string"))),
            lit(20000L)))
          .otherwise(pmod(md5_bucket60(concat(lit("p:"), col("doc_id").cast("string"))),
            lit(1000000L))).as("p_micro"))
    bhFdr(mx, "doc_id", "p_micro")
  }

  private val x328OracleSql: String = """
      WITH mx AS (SELECT doc_id,
             CASE WHEN doc_id % 5 = 0
                  THEN ('0x' || substr(md5('p:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 20000
                  ELSE ('0x' || substr(md5('p:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000
             END AS p_micro
           FROM documents),
      rk AS (SELECT doc_id AS metric_id, p_micro,
               CAST(row_number() OVER (ORDER BY p_micro, doc_id) AS BIGINT) AS rk,
               CAST(count(*) OVER () AS BIGINT) AS m
             FROM mx),
      fl AS (SELECT metric_id, p_micro, rk,
               CASE WHEN p_micro * m * 1000 <= 50 * rk * 1000000
                    THEN rk ELSE NULL END AS okrk
             FROM rk),
      ct AS (SELECT max(okrk) AS istar FROM fl)
      SELECT metric_id, p_micro, rk,
             COALESCE(rk <= ct.istar, FALSE) AS rejected
      FROM fl, ct ORDER BY rk"""

  // ---- x329: winsorized mean card -----------------------------------------------------

  /** One-row robust-mean card over `valueCol` (cents): (n, lo_cents,
    * hi_cents, n_clipped_lo, n_clipped_hi, mean_micro,
    * winsorized_mean_micro). lo/hi are the exact loPermille/hiPermille
    * order statistics (rank ⌈n·p/1000⌉, at least 1); values outside
    * clamp to them. Means are half-up micro of cents (so micro here =
    * cents·10⁶ scale held in DECIMAL until the final division).
    */
  def winsorizedMean(
      samples: DataFrame, valueCol: String,
      loPermille: Int = 10, hiPermille: Int = 990): DataFrame = {
    require(loPermille >= 1 && hiPermille <= 999 && loPermille < hiPermille)
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val grid = samples.select(cents.as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    // round-14: the cents grid is corpus-derived (10⁷–10⁹ distinct
    // values at 100 TB) — order statistics come off
    // GridStats.permilleCuts' distributed prefix sum, never an
    // unpartitioned grid window. Kernel sibling: x151
    // Extensions59.winsorizedReadout — INTERPOLATED percentile() per md5
    // arm there vs exact grid order statistics here; the clamp-and-
    // decompose readout is the shared idea, the cut definition is the
    // documented delta.
    val cuts = GridStats.permilleCuts(grid, "v", "c",
        Seq("lo" -> loPermille, "hi" -> hiPermille))
      .select(col("lo"), col("hi"))
    grid.crossJoin(broadcast(cuts))
      .withColumn("w", least(greatest(col("v"), col("lo")), col("hi")))
      .agg(sum(col("c")).as("n"),
        max(col("lo")).as("lo_cents"), max(col("hi")).as("hi_cents"),
        sum(when(col("v") < col("lo"), col("c")).otherwise(0L)).as("n_clipped_lo"),
        sum(when(col("v") > col("hi"), col("c")).otherwise(0L)).as("n_clipped_hi"),
        sum((col("v").cast("decimal(38,0)") * col("c")).cast("decimal(38,0)"))
          .as("sv"),
        sum((col("w").cast("decimal(38,0)") * col("c")).cast("decimal(38,0)"))
          .as("sw"))
      .select(col("n"), col("lo_cents"), col("hi_cents"),
        col("n_clipped_lo"), col("n_clipped_hi"),
        expr("CAST((sv * 1000000 * 2 + n) DIV (2 * n) AS BIGINT)")
          .as("mean_micro"),
        expr("CAST((sw * 1000000 * 2 + n) DIV (2 * n) AS BIGINT)")
          .as("winsorized_mean_micro"))
  }

  /** x329: purchase values winsorized at [1%, 99%]. */
  def x329WinsorizedMean(s: SparkSession, dir: String): DataFrame =
    winsorizedMean(
      Tables.load(s, dir, "events").filter(col("event_type") === "purchase"),
      "value")

  private val x329OracleSql: String = """
      WITH sel AS (SELECT CAST(round(value * 100.0, 0) AS BIGINT) AS v
                   FROM events WHERE event_type = 'purchase'),
      grid AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM sel GROUP BY v),
      cum AS (SELECT v, c,
                sum(c) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                sum(c) OVER () AS n
              FROM grid),
      kk AS (SELECT v, c, cum, n,
               (n * 10 + 999) // 1000 AS klo,
               (n * 990 + 999) // 1000 AS khi
             FROM cum),
      cuts AS (SELECT min(CASE WHEN cum >= klo THEN v END) AS lo,
                 min(CASE WHEN cum >= khi THEN v END) AS hi
               FROM kk),
      wz AS (SELECT g.v, g.c,
               least(greatest(g.v, cuts.lo), cuts.hi) AS w,
               cuts.lo AS lo, cuts.hi AS hi
             FROM grid g, cuts)
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(max(lo) AS BIGINT) AS lo_cents,
             CAST(max(hi) AS BIGINT) AS hi_cents,
             CAST(sum(CASE WHEN v < lo THEN c ELSE 0 END) AS BIGINT) AS n_clipped_lo,
             CAST(sum(CASE WHEN v > hi THEN c ELSE 0 END) AS BIGINT) AS n_clipped_hi,
             CAST((sum(v * c) * 1000000 * 2 + sum(c)) // (2 * sum(c)) AS BIGINT)
               AS mean_micro,
             CAST((sum(w * c) * 1000000 * 2 + sum(c)) // (2 * sum(c)) AS BIGINT)
               AS winsorized_mean_micro
      FROM wz"""

  val entries: Seq[Entry] = Seq(
    Entry("x328_bh_fdr", x328BhFdr _, x328OracleSql),
    Entry("x329_winsorized_mean", x329WinsorizedMean _, x329OracleSql))
}
