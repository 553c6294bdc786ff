package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Eighty-eighth extension batch — paying two prices for one part:
  *
  *  - procurement price spread (x206): for each multi-sourced part,
  *    the per-supplier median unit price and the cheapest-vs-priciest
  *    spread — the procurement arbitrage table ("we buy part 1042
  *    from supplier A at 12% over supplier B"). Top-k by spread.
  *
  * Determinism discipline: unit prices quantize per ROW to 1e-4
  * dollars via sign-free half-away division (quantity is integral in
  * the fixture; the quantization contract covers fractional
  * quantities identically in both engines); per-supplier medians
  * double; the spread ratio renders by one half-away division and
  * the top-k ties on the part key.
  */
object Extensions88 {

  /** Per multi-sourced part: cheapest and priciest supplier median
    * unit price and spread_pct = (max − min)/min. Output
    * top-`topK` by (spread desc, part): (part, n_suppliers, min_unit,
    * max_unit, spread_pct).
    *
    * Scale: row-level quantization map-side, one (part, supplier)
    * hash-agg with a percentile buffer, one part hash-agg; TakeOrdered
    * cut.
    */
  def priceSpread(
      lineitems: DataFrame, partCol: String, suppCol: String,
      priceCol: String, qtyCol: String, topK: Int = 20): DataFrame = {
    val unit4 = expr(
      s"CAST(round(CAST(round($priceCol * 100.0, 0) AS BIGINT) * 100.0 / $qtyCol, 0) AS BIGINT)")
    // r15 (guide §4 "prefer codegen'd expressions"): `percentile` is a
    // TypedImperativeAggregate — an ObjectHashAggregate holding an
    // OpenHashMap buffer PER (p, s) GROUP (~575k groups here; measured
    // 4.1 s, the whole query). 2·median of INTEGERS is exactly the sum of
    // the two middle order statistics (lo = ceil(n/2), hi = floor(n/2)+1,
    // equal when n is odd — that row then contributes twice), so one
    // codegen'd sort window + conditional sum replaces the object agg:
    // m2 = u4[lo] + u4[hi] ≡ round(2·percentile(u4, 0.5)).
    val wm = Window.partitionBy(col("p"), col("s")).orderBy(col("u4"))
    val perSupp = lineitems
      .select(col(partCol).as("p"), col(suppCol).as("s"), unit4.as("u4"))
      .withColumn("rn", row_number().over(wm).cast("long"))
      .withColumn("nn", count(lit(1)).over(wm.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("lo", expr("(nn + 1) DIV 2"))
      .withColumn("hi", expr("nn DIV 2 + 1"))
      .filter(col("rn") === col("lo") || col("rn") === col("hi"))
      .groupBy(col("p"), col("s")).agg(
        sum(when(col("rn") === col("lo"), col("u4")).otherwise(0L) +
          when(col("rn") === col("hi"), col("u4")).otherwise(0L)).as("m2"))
    val perPart = perSupp.groupBy(col("p")).agg(
      count(lit(1)).as("n_suppliers"),
      min(col("m2")).as("lo2"), max(col("m2")).as("hi2"))
      .filter(col("n_suppliers") >= 2L && col("lo2") > 0L)
    perPart
      .withColumn("spread4", expr(
        "((hi2 - lo2) * 10000 * 2 + lo2) DIV (2 * lo2)"))
      .select(col("p").as("part"), col("n_suppliers"),
        (col("lo2") / lit(20000.0d)).as("min_unit"),
        (col("hi2") / lit(20000.0d)).as("max_unit"),
        (col("spread4") / lit(10000.0d)).as("spread_pct"))
      .orderBy(col("spread_pct").desc, col("part"))
      .limit(topK)
  }

  /** x206: the fixture's top-20 procurement arbitrage opportunities. */
  def x206PriceSpread(s: SparkSession, dir: String): DataFrame =
    priceSpread(Tables.load(s, dir, "lineitem"), "l_partkey", "l_suppkey",
      "l_extendedprice", "l_quantity")

  private val x206OracleSql: String = """
      WITH u AS (SELECT l_partkey AS p, l_suppkey AS s,
                   CAST(round(CAST(round(l_extendedprice * 100.0, 0) AS BIGINT)
                     * 100.0 / l_quantity, 0) AS BIGINT) AS u4
                 FROM lineitem),
      ps AS (SELECT p, s,
               CAST(round(2.0 * percentile_cont(0.5) WITHIN GROUP (ORDER BY u4), 0) AS BIGINT) AS m2
             FROM u GROUP BY p, s),
      pp AS (SELECT p, count(*) AS n_suppliers,
               CAST(min(m2) AS BIGINT) AS lo2, CAST(max(m2) AS BIGINT) AS hi2
             FROM ps GROUP BY p
             HAVING count(*) >= 2 AND min(m2) > 0),
      sp AS (SELECT *, ((hi2 - lo2) * 10000 * 2 + lo2) // (2 * lo2) AS spread4
             FROM pp)
      SELECT p AS part, n_suppliers,
             lo2 / 20000.0 AS min_unit, hi2 / 20000.0 AS max_unit,
             spread4 / 10000.0 AS spread_pct
      FROM sp
      ORDER BY spread_pct DESC, part
      LIMIT 20"""

  val entries: Seq[Entry] = Seq(
    Entry("x206_price_spread", x206PriceSpread _, x206OracleSql))
}
