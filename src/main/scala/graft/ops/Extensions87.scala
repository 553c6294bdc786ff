package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Eighty-seventh extension batch — supply-side risk and speed:
  *
  *  - sourcing risk profile (x204): parts by supplier count (single /
  *    dual / multi sourced) with the revenue exposed in each bucket —
  *    the supply-chain fragility table (a single-sourced part's
  *    revenue has no fallback).
  *  - lead-time card (x205): order-to-ship days per order priority —
  *    median/p90 plus the late fraction beyond an SLA — the
  *    operational speed table the priority field exists to drive.
  *
  * Determinism discipline: exact counts/cents; lead times are exact
  * day integers (datediff), percentiles doubled; the SLA flag and
  * all shares are integer comparisons / half-away renders.
  */
object Extensions87 {

  // ---- x204: sourcing risk profile ---------------------------------------------

  /** Parts bucketed by distinct supplier count: per bucket
    * (single/dual/multi) — parts, revenue, revenue share. Output:
    * (sourcing, n_parts, revenue, revenue_share).
    *
    * Scale: one (part) hash-agg carrying distinct suppliers + cents,
    * one 3-row bucket agg; shares off the bucket table.
    */
  def sourcingRiskProfile(
      lineitems: DataFrame, partCol: String, suppCol: String,
      valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val perPart = lineitems
      .select(col(partCol).as("p"), col(suppCol).as("s"), cents.as("c"))
      .groupBy(col("p")).agg(count_distinct(col("s")).as("ns"),
        sum(col("c")).as("v"))
      .withColumn("sourcing",
        when(col("ns") === 1L, "1_single")
          .when(col("ns") === 2L, "2_dual").otherwise("3_multi"))
    val buckets = perPart.groupBy(col("sourcing"))
      .agg(count(lit(1)).as("n_parts"), sum(col("v")).as("vv"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    buckets
      .withColumn("tot", sum(col("vv")).over(wAll))
      .select(col("sourcing"), col("n_parts"),
        (col("vv") / lit(100.0d)).as("revenue"),
        expr("((vv * 10000 * 2 + tot) DIV (2 * tot)) / 10000.0D")
          .as("revenue_share"))
  }

  /** x204: how much revenue rides on single-sourced parts? */
  def x204Sourcing(s: SparkSession, dir: String): DataFrame =
    sourcingRiskProfile(
      Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"),
          (col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
            .as("net")),
      "l_partkey", "l_suppkey", "net")

  private val x204OracleSql: String = """
      WITH pp AS (SELECT l_partkey AS p, count(DISTINCT l_suppkey) AS ns,
                    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0, 0) AS BIGINT)) AS BIGINT) AS v
                  FROM lineitem GROUP BY l_partkey),
      bk AS (SELECT CASE WHEN ns = 1 THEN '1_single'
                         WHEN ns = 2 THEN '2_dual' ELSE '3_multi' END AS sourcing,
               count(*) AS n_parts, CAST(sum(v) AS BIGINT) AS vv
             FROM pp GROUP BY 1),
      w AS (SELECT *, CAST(sum(vv) OVER () AS BIGINT) AS tot FROM bk)
      SELECT sourcing, n_parts, vv / 100.0 AS revenue,
             ((vv * 10000 * 2 + tot) // (2 * tot)) / 10000.0 AS revenue_share
      FROM w
      ORDER BY sourcing"""

  // ---- x205: lead-time card ----------------------------------------------------

  /** Order-to-ship lead time per order priority: median/p90 days and
    * the fraction beyond `slaDays`. Output:
    * (priority, n_lineitems, median_days, p90_days, late_frac).
    *
    * Scale: the orders⋈lineitem equi-join, map-side datediff, one
    * priority hash-agg carrying two percentile buffers + the exact
    * late count.
    */
  def leadTimeCard(
      orders: DataFrame, lineitems: DataFrame, slaDays: Long = 90L): DataFrame = {
    val joined = orders
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"))
      .join(lineitems.select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority").as("pr"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lt"))
    joined.groupBy(col("pr")).agg(
      count(lit(1)).as("n_lineitems"),
      expr("CAST(round(2.0D * percentile(lt, 0.5D), 0) AS BIGINT)").as("m2"),
      expr("CAST(round(2.0D * percentile(lt, 0.9D), 0) AS BIGINT)").as("p2"),
      sum(when(col("lt") > slaDays, 1L).otherwise(0L)).as("late"))
      .select(col("pr").as("priority"), col("n_lineitems"),
        (col("m2") / lit(2.0d)).as("median_days"),
        (col("p2") / lit(2.0d)).as("p90_days"),
        expr("((late * 10000 * 2 + n_lineitems) DIV (2 * n_lineitems)) / 10000.0D")
          .as("late_frac"))
  }

  /** x205: does priority actually buy shipping speed? (SLA 90 days.) */
  def x205LeadTime(s: SparkSession, dir: String): DataFrame =
    leadTimeCard(Tables.load(s, dir, "orders"),
      Tables.load(s, dir, "lineitem"))

  private val x205OracleSql: String = """
      WITH j AS (SELECT o.o_orderpriority AS pr,
                   CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS lt
                 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      agg AS (SELECT pr, count(*) AS n_lineitems,
                CAST(round(2.0 * percentile_cont(0.5) WITHIN GROUP (ORDER BY lt), 0) AS BIGINT) AS m2,
                CAST(round(2.0 * percentile_cont(0.9) WITHIN GROUP (ORDER BY lt), 0) AS BIGINT) AS p2,
                CAST(sum(CASE WHEN lt > 90 THEN 1 ELSE 0 END) AS BIGINT) AS late
              FROM j GROUP BY pr)
      SELECT pr AS priority, n_lineitems,
             m2 / 2.0 AS median_days, p2 / 2.0 AS p90_days,
             ((late * 10000 * 2 + n_lineitems) // (2 * n_lineitems)) / 10000.0 AS late_frac
      FROM agg
      ORDER BY priority"""

  val entries: Seq[Entry] = Seq(
    Entry("x204_sourcing_risk", x204Sourcing _, x204OracleSql),
    Entry("x205_lead_time", x205LeadTime _, x205OracleSql))
}
