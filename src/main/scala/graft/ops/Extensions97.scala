package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Ninety-seventh extension batch — the quantile tier, sketched and
  * exact:
  *
  *  - approx-quantile card (x222): `percentile_approx` (Greenwald–
  *    Khanna sketch — the mergeable quantile structure a 1000-executor
  *    aggregation actually runs, where the exact percentile's
  *    per-group buffer of EVERY value may not fit) side by side with
  *    the exact percentile and an in-tolerance flag — the x12
  *    (HLL vs exact) pattern for quantiles. At 100 TB the card is what
  *    you serve; the exact path is the audit.
  *  - per-group decile table (x223): exact deciles per group from ONE
  *    percentile(array) buffer per group, exploded against a broadcast
  *    decile spine — the describe-by-group table every dataset review
  *    opens with.
  *
  * Determinism discipline: x222's oracle pins the exact percentiles
  * and asserts the sketch's tolerance as a pinned-TRUE boolean (the
  * x12 rule — sketch internals are engine-specific, their CONTRACT is
  * not); x223 rides the q74 percentile-interpolation bit-parity
  * contract, 4dp-rounded.
  */
object Extensions97 {

  // ---- x222: approx-quantile card ----------------------------------------------

  /** Per group: exact p50/p90/p99 of `valueCol` (4dp) plus a flag that
    * the Greenwald–Khanna sketch (`percentile_approx`, accuracy
    * 10000) lands within `tolPct` percent of the exact rank-window —
    * checked against the exact values, so a sketch regression fails
    * the hash. Output: (group_key, n, p50, p90, p99,
    * approx_within_tol).
    *
    * Scale: the sketch is the point — its per-group state is O(accuracy)
    * and MERGEABLE across partitions, where the exact percentile
    * buffers every value per group. The card runs both at test scale;
    * a 100 TB run keeps only the sketch side.
    */
  def approxQuantileCard(
      rel: DataFrame, groupCol: String, valueCol: String,
      tolPct: Double = 5.0): DataFrame = {
    val v = col(valueCol).cast("double")
    val g = rel.select(col(groupCol).as("g"), v.as("v"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(v, array(0.5D, 0.9D, 0.99D))").as("ex"),
        expr("percentile_approx(v, array(0.5D, 0.9D, 0.99D), 10000)").as("ap"))
    def ok(i: Int) = abs(col("ap").getItem(i) - col("ex").getItem(i)) <=
      lit(tolPct / 100.0) * greatest(abs(col("ex").getItem(i)), lit(1e-9))
    g.select(col("g").as("group_key"), col("n"),
      Extensions.round4o(col("ex").getItem(0)).as("p50"),
      Extensions.round4o(col("ex").getItem(1)).as("p90"),
      Extensions.round4o(col("ex").getItem(2)).as("p99"),
      (ok(0) && ok(1) && ok(2)).as("approx_within_tol"))
  }

  /** x222: per-event-type value quantiles, sketch audited vs exact. */
  def x222ApproxQuantiles(s: SparkSession, dir: String): DataFrame =
    approxQuantileCard(Tables.load(s, dir, "events"), "event_type", "value")

  private val x222OracleSql: String = """
      SELECT event_type AS group_key, count(*) AS n,
             round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value) * 10000.0, 0) / 10000.0 AS p50,
             round(percentile_cont(0.9) WITHIN GROUP (ORDER BY value) * 10000.0, 0) / 10000.0 AS p90,
             round(percentile_cont(0.99) WITHIN GROUP (ORDER BY value) * 10000.0, 0) / 10000.0 AS p99,
             TRUE AS approx_within_tol
      FROM events
      GROUP BY event_type
      ORDER BY group_key"""

  // ---- x223: per-group decile table --------------------------------------------

  /** Exact deciles per group: (group_key, decile 1..9, value), one
    * `percentile(array)` buffer per group (never nine independent
    * buffers), exploded against the decile ordinals. 4dp.
    *
    * Scale: one partial-aggregated percentile buffer per group; the
    * explode is 9 rows per group — dimension-sized output.
    */
  def groupDeciles(
      rel: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val qs = (1 to 9).map(i => s"0.${i}D").mkString(", ")
    rel.select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))
      .groupBy(col("g"))
      .agg(expr(s"percentile(v, array($qs))").as("d"))
      .select(col("g").as("group_key"),
        posexplode(col("d")).as(Seq("i", "value")))
      .select(col("group_key"), (col("i") + 1).cast("long").as("decile"),
        Extensions.round4o(col("value")).as("value"))
  }

  /** x223: the per-event-type value distribution, decile by decile. */
  def x223GroupDeciles(s: SparkSession, dir: String): DataFrame =
    groupDeciles(Tables.load(s, dir, "events"), "event_type", "value")

  private val x223OracleSql: String = {
    val rows = (1 to 9).map(i =>
      s"""SELECT event_type AS group_key, CAST($i AS BIGINT) AS decile,
             round(percentile_cont(0.$i) WITHIN GROUP (ORDER BY value) * 10000.0, 0) / 10000.0 AS value
          FROM events GROUP BY event_type""")
      .mkString("\n      UNION ALL ")
    s"""
      $rows
      ORDER BY group_key, decile"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x222_approx_quantiles", x222ApproxQuantiles _, x222OracleSql),
    Entry("x223_group_deciles", x223GroupDeciles _, x223OracleSql))
}
