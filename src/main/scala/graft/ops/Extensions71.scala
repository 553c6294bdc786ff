package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Seventy-first extension batch — when cohorts pay back, which items
  * carry the book:
  *
  *  - cohort payback (x174): the first offset at which each cohort's
  *    cumulative per-member LTV (the x130 curve, reused verbatim)
  *    crosses a given acquisition cost — the unit-economics readout a
  *    spend decision actually turns on.
  *  - ABC / Pareto classification (x175): items banded A/B/C by
  *    cumulative revenue share (80/95 cuts) — the inventory-analytics
  *    classic, computed with EXACT integer share comparisons so band
  *    boundaries cannot drift.
  *
  * Determinism discipline: x174 compares the x130 curve's 4dp values
  * (identical doubles in both engines) against a 4dp-exact CAC
  * literal; x175 compares cum·10000 against cut·total as longs and
  * ranks (revenue desc, key) — fully ordered.
  */
object Extensions71 {

  // ---- x174: cohort payback readout --------------------------------------------

  /** Per cohort, the first offset where cumulative LTV ≥ `cacDollars`:
    * (cohort, cohort_users, payback_offset, final_ltv, paid_back) —
    * payback_offset NULL when the curve never crosses. Built ON the
    * x130 curve (same granularity semantics), so the two artifacts
    * can't disagree.
    *
    * Scale: the x130 aggregation chain + one O(cohorts·offsets)
    * reduce.
    */
  def cohortPayback(
      events: DataFrame, userCol: String, tsCol: String, valueCol: String,
      cacDollars: Double, granularity: String = "week"): DataFrame = {
    val curve = Extensions49.cohortLtv(events, userCol, tsCol, valueCol,
      granularity)
    curve.groupBy(col("cohort")).agg(
      first(col("cohort_users")).as("cohort_users"),
      min(when(col("ltv") >= cacDollars, col("offset_m"))).as("payback_offset"),
      max(col("ltv")).as("final_ltv"))
      .withColumn("paid_back", col("payback_offset").isNotNull)
  }

  /** x174: weekly cohorts against a $100 acquisition cost. */
  def x174Payback(s: SparkSession, dir: String): DataFrame =
    cohortPayback(Tables.load(s, dir, "events"), "user_id", "ts", "value",
      cacDollars = 100.0)

  private val x174OracleSql: String = """
      WITH ft AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
                  FROM events GROUP BY user_id),
      sized AS (SELECT cohort, count(*) AS cohort_users FROM ft GROUP BY cohort),
      rev AS (SELECT ft.cohort,
                CAST(datediff('day', ft.cohort, date_trunc('week', e.ts)) // 7 AS BIGINT) AS offset_m,
                CAST(sum(CAST(round(e.value * 100.0, 0) AS BIGINT)) AS BIGINT) AS rev_cents
              FROM events e JOIN ft USING (user_id)
              GROUP BY 1, 2),
      cum AS (SELECT cohort, offset_m,
                CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY offset_m
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
              FROM rev),
      lt AS (SELECT c.cohort, c.offset_m, s.cohort_users,
               (CAST(sign(c.cum_cents) AS BIGINT)
                 * ((abs(c.cum_cents) * 100 * 2 + s.cohort_users)
                    // (2 * s.cohort_users))) / 10000.0 AS ltv
             FROM cum c JOIN sized s USING (cohort))
      SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
             any_value(cohort_users) AS cohort_users,
             min(CASE WHEN ltv >= 100.0 THEN offset_m END) AS payback_offset,
             max(ltv) AS final_ltv,
             min(CASE WHEN ltv >= 100.0 THEN offset_m END) IS NOT NULL AS paid_back
      FROM lt
      GROUP BY cohort
      ORDER BY cohort"""

  // ---- x175: ABC / Pareto classification ---------------------------------------

  /** Band keys A/B/C by cumulative revenue share: keys sorted by
    * (revenue desc, key), class A while cum share ≤ `aCut` (permille),
    * B while ≤ `bCut`, C after. Output per key:
    * (rank, key, revenue, cum_share, abc_class).
    *
    * Exactness: the banding compares cum·1000 ≤ cut·total as exact
    * longs — a key cannot band differently across engines; cum_share
    * renders 4dp by half-away division.
    *
    * Scale: one corpus hash-agg to the key table; the running sum and
    * banding are windows over that DIMENSION-SIZED table (items, not
    * events) — the one deliberate single-axis sort, on the table whose
    * size is the catalog's.
    */
  def abcClassification(
      rel: DataFrame, keyCol: String, valueCol: String,
      aCut: Long = 800L, bCut: Long = 950L): DataFrame = {
    require(aCut < bCut && bCut <= 1000L)
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val per = rel.select(col(keyCol).as("k"), cents.as("cents"))
      .groupBy(col("k")).agg(sum(col("cents")).as("rev"))
    val wOrd = Window.orderBy(col("rev").desc, col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    per
      .withColumn("cum", sum(col("rev")).over(wOrd))
      .withColumn("tot", sum(col("rev")).over(wAll))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("rev").desc, col("k")))
          .cast("long"))
      .select(col("rank"), col("k").as("key"),
        (col("rev") / lit(100.0d)).as("revenue"),
        expr("((cum * 10000 * 2 + tot) DIV (2 * tot)) / 10000.0D")
          .as("cum_share"),
        when(col("cum") * 1000L <= lit(aCut) * col("tot"), "A")
          .when(col("cum") * 1000L <= lit(bCut) * col("tot"), "B")
          .otherwise("C").as("abc_class"))
  }

  /** x175: parts banded by lineitem revenue (price net of discount). */
  def x175Abc(s: SparkSession, dir: String): DataFrame =
    abcClassification(
      Tables.load(s, dir, "lineitem")
        .select(col("l_partkey"),
          (col("l_extendedprice") * (lit(1.0d) - col("l_discount")))
            .as("net")),
      "l_partkey", "net")

  private val x175OracleSql: String = """
      WITH per AS (
        SELECT l_partkey AS k,
               CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100.0, 0) AS BIGINT)) AS BIGINT) AS rev
        FROM lineitem GROUP BY l_partkey),
      w AS (SELECT *,
              CAST(sum(rev) OVER (ORDER BY rev DESC, k
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
              CAST(sum(rev) OVER () AS BIGINT) AS tot,
              CAST(row_number() OVER (ORDER BY rev DESC, k) AS BIGINT) AS rank
            FROM per)
      SELECT rank, k AS key, rev / 100.0 AS revenue,
             ((cum * 10000 * 2 + tot) // (2 * tot)) / 10000.0 AS cum_share,
             CASE WHEN cum * 1000 <= 800 * tot THEN 'A'
                  WHEN cum * 1000 <= 950 * tot THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM w
      ORDER BY rank"""

  val entries: Seq[Entry] = Seq(
    Entry("x174_cohort_payback", x174Payback _, x174OracleSql),
    Entry("x175_abc", x175Abc _, x175OracleSql))
}
