package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Eighty-sixth extension batch — whose money is it:
  *
  *  - repeat-revenue split (x203): monthly revenue split into
  *    first-time vs repeat customers (repeat = the customer's first
  *    order month precedes this one) — the retention-economics row
  *    that tells acquisition spend from durable demand. The x195 DAU
  *    decomposition for money instead of presence.
  *
  * Determinism discipline: exact cents, first-month pins by one
  * customer hash-agg, shares by half-away division.
  */
object Extensions86 {

  /** Per month: total revenue, revenue from customers in their FIRST
    * month, revenue from returning customers, and the repeat share.
    * Output: (month, revenue, revenue_new, revenue_repeat,
    * repeat_share).
    *
    * Scale: one customer hash-agg pins first months (broadcast-free —
    * it joins back on the customer key), one (month) hash-agg;
    * windows never touch row-level data.
    */
  def repeatRevenueSplit(
      orders: DataFrame, custCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val base = orders.select(col(custCol).as("c"),
      to_date(date_trunc("month", col(tsCol))).as("m"), cents.as("v"))
    val firstM = base.groupBy(col("c")).agg(min(col("m")).as("fm"))
    base.join(firstM, Seq("c"))
      .groupBy(col("m"))
      .agg(sum(col("v")).as("rev"),
        sum(when(col("m") === col("fm"), col("v")).otherwise(0L)).as("rev_new"))
      .withColumn("rev_rep", col("rev") - col("rev_new"))
      // overflow guard (x209 discipline): abs(rev_rep)*20000 wraps past
      // 4.6e14 cents in one month; sc floors both operands identically —
      // 1 below the bound (bit-identical, same oracle hash), O(1e-14)
      // flooring error at planet scale, far under the 1e-4 render
      .withColumn("sc", expr("abs(rev) DIV 460000000000000 + 1"))
      .select(date_format(col("m"), "yyyy-MM").as("month"),
        (col("rev") / lit(100.0d)).as("revenue"),
        (col("rev_new") / lit(100.0d)).as("revenue_new"),
        (col("rev_rep") / lit(100.0d)).as("revenue_repeat"),
        when(col("rev") =!= 0L, expr(
          "(CAST(sign(rev_rep) AS BIGINT) * (((abs(rev_rep) DIV sc) * 10000 * 2 + (abs(rev) DIV sc)) DIV (2 * (abs(rev) DIV sc)))) / 10000.0D"))
          .as("repeat_share"))
  }

  /** x203: monthly order revenue, split new vs repeat customers. */
  def x203RepeatRevenue(s: SparkSession, dir: String): DataFrame =
    repeatRevenueSplit(Tables.load(s, dir, "orders"), "o_custkey",
      "o_orderdate", "o_totalprice")

  private val x203OracleSql: String = """
      WITH base AS (SELECT o_custkey AS c,
                      CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
                      CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS v
                    FROM orders),
      fm AS (SELECT c, min(m) AS fm FROM base GROUP BY c),
      agg AS (SELECT b.m, CAST(sum(b.v) AS BIGINT) AS rev,
                CAST(sum(CASE WHEN b.m = fm.fm THEN b.v ELSE 0 END) AS BIGINT) AS rev_new
              FROM base b JOIN fm ON fm.c = b.c
              GROUP BY b.m),
      x AS (SELECT *, rev - rev_new AS rev_rep,
                   abs(rev) // 460000000000000 + 1 AS sc
            FROM agg)
      SELECT strftime(m, '%Y-%m') AS month,
             rev / 100.0 AS revenue,
             rev_new / 100.0 AS revenue_new,
             rev_rep / 100.0 AS revenue_repeat,
             CASE WHEN rev <> 0 THEN
               (CAST(sign(rev_rep) AS BIGINT)
                 * (((abs(rev_rep) // sc) * 10000 * 2 + (abs(rev) // sc)) // (2 * (abs(rev) // sc)))) / 10000.0
             END AS repeat_share
      FROM x
      ORDER BY month"""

  val entries: Seq[Entry] = Seq(
    Entry("x203_repeat_revenue", x203RepeatRevenue _, x203OracleSql))
}
