package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Eighty-ninth extension batch — who trades with whom, what the promo
  * buys:
  *
  *  - trade flow matrix (x207): revenue by (customer nation ×
  *    supplier nation) — the TPC-H Q7 volume-shipping shape
  *    generalized to the full matrix, with row shares. Five joins,
  *    two of them broadcast dimensions.
  *  - promo share (x208): monthly revenue share of promo-type parts
  *    (the Q14 promotion-effect shape) — one broadcast part-type
  *    flag, exact cents, the conditional-share-over-time staple.
  *
  * Determinism discipline: exact cents; shares by half-away division.
  */
object Extensions89 {

  // ---- x207: trade flow matrix -------------------------------------------------

  /** Revenue per (customer nation, supplier nation) with the share of
    * the customer nation's spend. Output: (cust_nation, supp_nation,
    * revenue, row_share).
    *
    * Scale: the fact join chain (orders⋈lineitem) shuffles on the
    * order key once; customer/supplier/nation are broadcast
    * dimensions; the matrix itself is ≤ nations² rows.
    */
  def tradeFlowMatrix(
      orders: DataFrame, lineitems: DataFrame, customers: DataFrame,
      suppliers: DataFrame, nations: DataFrame): DataFrame = {
    val cents = round(
      col("l_extendedprice") * (lit(1.0d) - col("l_discount")) * 100.0d, 0)
      .cast("long")
    val cn = nations.select(col("n_nationkey").as("cnk"),
      col("n_name").as("cust_nation"))
    val sn = nations.select(col("n_nationkey").as("snk"),
      col("n_name").as("supp_nation"))
    val cells = orders
      .join(lineitems, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(customers.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(suppliers.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(cn), col("c_nationkey") === col("cnk"))
      .join(broadcast(sn), col("s_nationkey") === col("snk"))
      .groupBy(col("cust_nation"), col("supp_nation"))
      .agg(sum(cents).as("v"))
    val wRow = Window.partitionBy(col("cust_nation"))
    cells
      .withColumn("rt", sum(col("v")).over(wRow))
      .select(col("cust_nation"), col("supp_nation"),
        (col("v") / lit(100.0d)).as("revenue"),
        expr("((v * 10000 * 2 + rt) DIV (2 * rt)) / 10000.0D").as("row_share"))
  }

  /** x207: the full nation-to-nation revenue matrix. */
  def x207TradeFlow(s: SparkSession, dir: String): DataFrame =
    tradeFlowMatrix(Tables.load(s, dir, "orders"),
      Tables.load(s, dir, "lineitem"), Tables.load(s, dir, "customer"),
      Tables.load(s, dir, "supplier"), Tables.load(s, dir, "nation"))

  private val x207OracleSql: String = """
      WITH cells AS (
        SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
               CAST(sum(CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100.0, 0) AS BIGINT)) AS BIGINT) AS v
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        GROUP BY 1, 2),
      w AS (SELECT *, CAST(sum(v) OVER (PARTITION BY cust_nation) AS BIGINT) AS rt
            FROM cells)
      SELECT cust_nation, supp_nation, v / 100.0 AS revenue,
             ((v * 10000 * 2 + rt) // (2 * rt)) / 10000.0 AS row_share
      FROM w
      ORDER BY cust_nation, supp_nation"""

  // ---- x208: promo share (Q14 shape) -------------------------------------------

  /** Monthly revenue share of parts whose type starts with `promoPrefix`.
    * Output: (month, revenue, promo_revenue, promo_share).
    *
    * Scale: one broadcast part flag into the fact join, one month
    * hash-agg.
    */
  def promoShare(
      lineitems: DataFrame, parts: DataFrame,
      promoPrefix: String = "PROMO"): DataFrame = {
    val cents = round(
      col("l_extendedprice") * (lit(1.0d) - col("l_discount")) * 100.0d, 0)
      .cast("long")
    val flags = parts.select(col("p_partkey"),
      col("p_type").startsWith(promoPrefix).as("is_promo"))
    lineitems
      .join(broadcast(flags), col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(date_trunc("month", col("l_shipdate")), "yyyy-MM")
        .as("month"))
      .agg(sum(cents).as("rev"),
        sum(when(col("is_promo"), cents).otherwise(0L)).as("promo"))
      .select(col("month"), (col("rev") / lit(100.0d)).as("revenue"),
        (col("promo") / lit(100.0d)).as("promo_revenue"),
        expr("((promo * 10000 * 2 + rev) DIV (2 * rev)) / 10000.0D")
          .as("promo_share"))
  }

  /** x208: the monthly promotion-effect trend. */
  def x208PromoShare(s: SparkSession, dir: String): DataFrame =
    promoShare(Tables.load(s, dir, "lineitem"), Tables.load(s, dir, "part"))

  private val x208OracleSql: String = """
      WITH j AS (SELECT strftime(date_trunc('month', l.l_shipdate), '%Y-%m') AS month,
                   CAST(round(l.l_extendedprice * (1.0 - l.l_discount) * 100.0, 0) AS BIGINT) AS c,
                   p.p_type LIKE 'PROMO%' AS is_promo
                 FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
      agg AS (SELECT month, CAST(sum(c) AS BIGINT) AS rev,
                CAST(sum(CASE WHEN is_promo THEN c ELSE 0 END) AS BIGINT) AS promo
              FROM j GROUP BY month)
      SELECT month, rev / 100.0 AS revenue, promo / 100.0 AS promo_revenue,
             ((promo * 10000 * 2 + rev) // (2 * rev)) / 10000.0 AS promo_share
      FROM agg
      ORDER BY month"""

  val entries: Seq[Entry] = Seq(
    Entry("x207_trade_flow", x207TradeFlow _, x207OracleSql),
    Entry("x208_promo_share", x208PromoShare _, x208OracleSql))
}
