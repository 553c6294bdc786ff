package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Seventy-fourth extension batch — what the model's ranking buys,
  * where the profitable cut sits:
  *
  *  - gains chart (x180): the cumulative-gains / lift table of the
  *    trained classifier — rank the corpus by margin, band into
  *    deciles, read each band's positive capture and lift. The
  *    business-facing view of the same ranking x120/x140 calibrate:
  *    "send the top 20%, catch 55% of the keeps".
  *  - utility-optimal gate (x181): the threshold that maximizes
  *    expected utility benefit·TP − cost·FP over the margin grid —
  *    x105 targets precision, x140 calibrates probabilities; this one
  *    takes an explicit cost matrix and picks the money-optimal cut.
  *
  * Determinism discipline: both run off the distinct-margin grid with
  * cumulative integer counts; x180 assigns whole tie-classes to the
  * decile of their cumulative start (documented, deterministic); x181
  * maximizes an exact integer utility with the highest-threshold
  * tie-break.
  */
object Extensions74 {

  // ---- x180: cumulative gains / lift chart -------------------------------------

  /** Decile gains table over a scored corpus: rows ranked by margin
    * desc; a whole tie-class lands in the decile of its cumulative
    * start (floor(10·cum_before/n) — deterministic under ties).
    * Output per non-empty decile: (decile, n, n_pos,
    * cum_capture, lift) — cum_capture = cumulative positives through
    * this decile / all positives; lift = decile positive rate / base
    * rate.
    *
    * Scale: one corpus map+hash-agg to the ≤1001-row margin grid
    * (the x105 discipline), windows over the grid, one decile
    * hash-agg. No row-level ranking.
    */
  def gainsChart(
      scored: DataFrame, marginCol: String, labelCol: String): DataFrame = {
    val grid = scored
      .select(col(marginCol).as("m"), col(labelCol).cast("long").as("y"))
      .groupBy(col("m")).agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
    // round-14: distinct margins grow with the corpus — the rank-before
    // count rides GridStats.withBelow's distributed prefix sum and the
    // totals broadcast; only the ≤10-row decile cum window keeps the
    // unpartitioned shape (bounded by construction)
    val tot = grid.agg(sum(col("c")).as("n"), sum(col("p")).as("ptot"))
    val banded = GridStats.withBelow(grid, Seq.empty, "m", Seq("c"),
        descending = true)
      .withColumnRenamed("below_c", "cb")
      .crossJoin(broadcast(tot))
      .withColumn("decile", expr("(10 * cb) DIV n"))
    val wCum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded.groupBy(col("decile"))
      .agg(sum(col("c")).as("n_d"), sum(col("p")).as("p_d"),
        first(col("n")).as("n"), first(col("ptot")).as("ptot"))
      .withColumn("cum_p", sum(col("p_d")).over(wCum))
      .select(col("decile"), col("n_d").as("n"), col("p_d").as("n_pos"),
        when(col("ptot") > 0L,
          expr("((cum_p * 10000 * 2 + ptot) DIV (2 * ptot)) / 10000.0D"))
          .as("cum_capture"),
        when(col("ptot") > 0L && col("n_d") > 0L, Extensions.round4o(
          (col("p_d").cast("double") / col("n_d")) /
            (col("ptot").cast("double") / col("n")))).as("lift"))
  }

  /** x180: the x94 classifier's gains table (same cached weights). */
  def x180Gains(s: SparkSession, dir: String): DataFrame =
    gainsChart(Extensions26.fixtureScored(s, dir), "margin_micro", "label")

  private val x180OracleSql: String = {
    val F1 = Extensions26.NumBuckets + 1
    Extensions26.logregOracleChain(8) + s""",
    scored AS (
      SELECT f.doc_id, f.y,
             CAST(list_sum(list_transform(generate_series(1, $F1), j -> w.w[j] * f.x[j])) AS BIGINT) AS m
      FROM feat f, w8 w),
    grid AS (SELECT m, count(*) AS c, CAST(sum(y) AS BIGINT) AS p
             FROM scored GROUP BY m),
    b AS (SELECT *,
            CAST(coalesce(sum(c) OVER (ORDER BY m DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb,
            CAST(sum(c) OVER () AS BIGINT) AS n,
            CAST(sum(p) OVER () AS BIGINT) AS ptot
          FROM grid),
    dk AS (SELECT (10 * cb) // n AS decile, c, p, n, ptot FROM b),
    agg AS (SELECT decile, CAST(sum(c) AS BIGINT) AS n_d,
              CAST(sum(p) AS BIGINT) AS p_d,
              any_value(n) AS n, any_value(ptot) AS ptot
            FROM dk GROUP BY decile),
    cum AS (SELECT *, CAST(sum(p_d) OVER (ORDER BY decile
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_p
            FROM agg)
    SELECT decile, n_d AS n, p_d AS n_pos,
           CASE WHEN ptot > 0 THEN
             ((cum_p * 10000 * 2 + ptot) // (2 * ptot)) / 10000.0 END AS cum_capture,
           CASE WHEN ptot > 0 AND n_d > 0 THEN
             round((p_d * 1.0 / n_d) / (ptot * 1.0 / n) * 10000.0, 0) / 10000.0
           END AS lift
    FROM cum
    ORDER BY decile"""
  }

  // ---- x181: utility-optimal gate ----------------------------------------------

  /** The margin threshold maximizing utility = `benefit`·TP − `cost`·FP
    * (gate: keep rows with margin ≥ θ, candidates = the distinct
    * margins + the reject-all gate). Output one row: (threshold_micro,
    * n_kept, tp, fp, utility, base_utility) — base_utility is the
    * keep-everything gate's utility, so the row shows what the cut
    * EARNS; ties prefer the highest threshold (keep less).
    *
    * Scale: the margin grid again (corpus-derived, NOT a bounded score
    * grid) — cumulative TP/FP from distributed prefix sums, the argmax
    * via one TakeOrdered(1). All integer.
    */
  def utilityGate(
      scored: DataFrame, marginCol: String, labelCol: String,
      benefit: Long, cost: Long): DataFrame = {
    require(benefit > 0 && cost > 0)
    val grid = scored
      .select(col(marginCol).as("m"), col(labelCol).cast("long").as("y"))
      .groupBy(col("m")).agg(count(lit(1)).as("c"), sum(col("y")).as("p"))
    // round-14: same margin-grid re-plan as gainsChart — prefix sums
    // distributed, totals broadcast, argmax (max u, ties to highest
    // threshold) as one TakeOrdered(1)
    val tot = grid.agg(sum(col("p")).as("ptot"), sum(col("c")).as("ntot"))
    val cand = GridStats.withBelow(grid, Seq.empty, "m", Seq("c", "p"),
        descending = true)
      .withColumn("kept", col("below_c") + col("c"))
      .withColumn("tp", col("below_p") + col("p"))
      .crossJoin(broadcast(tot))
      .withColumn("fp", col("kept") - col("tp"))
      .withColumn("u", lit(benefit) * col("tp") - lit(cost) * col("fp"))
    val best = cand.orderBy(col("u").desc, col("m").desc).limit(1)
    best.select(col("m").as("threshold_micro"), col("kept").as("n_kept"),
      col("tp"), col("fp"), col("u").as("utility"),
      (lit(benefit) * col("ptot") - lit(cost) * (col("ntot") - col("ptot")))
        .as("base_utility"))
  }

  /** x181: the money-optimal gate for the x94 classifier at
    * benefit 3 / cost 1 per document.
    */
  def x181UtilityGate(s: SparkSession, dir: String): DataFrame =
    utilityGate(Extensions26.fixtureScored(s, dir), "margin_micro", "label",
      benefit = 3L, cost = 1L)

  private val x181OracleSql: String = {
    val F1 = Extensions26.NumBuckets + 1
    Extensions26.logregOracleChain(8) + s""",
    scored AS (
      SELECT f.doc_id, f.y,
             CAST(list_sum(list_transform(generate_series(1, $F1), j -> w.w[j] * f.x[j])) AS BIGINT) AS m
      FROM feat f, w8 w),
    grid AS (SELECT m, count(*) AS c, CAST(sum(y) AS BIGINT) AS p
             FROM scored GROUP BY m),
    cand AS (SELECT *,
               CAST(sum(c) OVER (ORDER BY m DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS kept,
               CAST(sum(p) OVER (ORDER BY m DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
               CAST(sum(p) OVER () AS BIGINT) AS ptot,
               CAST(sum(c) OVER () AS BIGINT) AS ntot
             FROM grid),
    u AS (SELECT *, kept - tp AS fp, 3 * tp - 1 * (kept - tp) AS uu FROM cand),
    mx AS (SELECT *, max(uu) OVER () AS umax FROM u),
    f1 AS (SELECT * FROM mx WHERE uu = umax),
    f2 AS (SELECT *, max(m) OVER () AS mbest FROM f1)
    SELECT m AS threshold_micro, kept AS n_kept, tp, fp, uu AS utility,
           3 * ptot - 1 * (ntot - ptot) AS base_utility
    FROM f2 WHERE m = mbest"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x180_gains_chart", x180Gains _, x180OracleSql),
    Entry("x181_utility_gate", x181UtilityGate _, x181OracleSql))
}
