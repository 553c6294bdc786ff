package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Ninetieth extension batch — the segment mix over time:
  *
  *  - segment revenue mix (x209): yearly revenue by customer market
  *    segment with within-year shares — the demand-mix trend behind
  *    every "which segment is growing" review.
  *
  * Determinism discipline: exact cents, half-away shares.
  */
object Extensions90 {

  /** Per (year, market segment): revenue and the within-year share.
    * Output: (year, segment, revenue, year_share).
    *
    * Scale: one broadcast customer-segment flag into the orders scan,
    * one (year, segment) hash-agg; shares off a year-partition window
    * over the ≤years·segments table.
    */
  def segmentRevenueMix(
      orders: DataFrame, customers: DataFrame): DataFrame = {
    val cents = round(col("o_totalprice") * 100.0d, 0).cast("long")
    val cells = orders
      .join(broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"),
        col("c_mktsegment").as("segment"))
      .agg(sum(cents).as("v"))
    val wYear = Window.partitionBy(col("yr"))
    cells
      .withColumn("yt", sum(col("v")).over(wYear))
      // overflow guard: v*20000 wraps past v = 4.6e14 cents ($4.6T in
      // one segment-year). sc floors BOTH operands by the same factor —
      // identically 1 below the bound (bit-identical arithmetic, same
      // oracle hash), and at planet scale the flooring error is
      // O(sc/yt) ~ 1e-14, far under the 1e-4 render.
      .withColumn("sc", expr("yt DIV 460000000000000 + 1"))
      .select(col("yr").as("year"), col("segment"),
        (col("v") / lit(100.0d)).as("revenue"),
        expr("(((v DIV sc) * 10000 * 2 + (yt DIV sc)) DIV (2 * (yt DIV sc))) / 10000.0D")
          .as("year_share"))
  }

  /** x209: which market segment carries each year. */
  def x209SegmentMix(s: SparkSession, dir: String): DataFrame =
    segmentRevenueMix(Tables.load(s, dir, "orders"),
      Tables.load(s, dir, "customer"))

  private val x209OracleSql: String = """
      WITH cells AS (
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr, c.c_mktsegment AS segment,
               CAST(sum(CAST(round(o.o_totalprice * 100.0, 0) AS BIGINT)) AS BIGINT) AS v
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
      w AS (SELECT *, CAST(sum(v) OVER (PARTITION BY yr) AS BIGINT) AS yt
            FROM cells),
      g AS (SELECT *, yt // 460000000000000 + 1 AS sc FROM w)
      SELECT yr AS year, segment, v / 100.0 AS revenue,
             (((v // sc) * 10000 * 2 + (yt // sc)) // (2 * (yt // sc))) / 10000.0 AS year_share
      FROM g
      ORDER BY year, segment"""

  val entries: Seq[Entry] = Seq(
    Entry("x209_segment_mix", x209SegmentMix _, x209OracleSql))
}
