package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Fourth relational batch — inverse-distribution aggregates, linear
  * regression aggregates, deterministic mode, gaps-and-islands, and
  * correlated LATERAL joins. All [absent] in the reference (key-value
  * read model only, SURVEY §2.3-§2.5); they round out the analytic SQL
  * surface a user migrating real dashboards would hit next.
  *
  * Scale notes: q74/q75 are single hash-agg passes (both aggregate
  * families carry partial state — Spark's percentile buffers per group
  * and regr_* moment tuples combine map-side). q76/q77 are one shuffle
  * on the group key plus a bounded window. q78's lateral top-2 plans as
  * a window-ranked join, not a per-row subquery execution — the same
  * shape a 1000-executor run wants.
  */
object Relational4 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Inverse-distribution aggregates: continuous (interpolated) and
    * discrete percentiles per return-flag cohort, WITHIN GROUP ordering.
    * percentile_cont interpolates linearly between adjacent order
    * statistics; percentile_disc returns an actual data value.
    *
    * Cross-engine determinism: the continuous percentiles run over
    * integer-quantized prices so the quartile interpolation weights
    * (0/.25/.5/.75) stay dyadic — the interpolated double is then
    * bit-exact in any engine, where raw-price interpolation differs in
    * the last ulp and flips round() at half boundaries.
    */
  def q74Percentiles(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_pct_v")
    // one percentile(..., array(...)) buffer per group instead of three
    // independent percentile_cont aggregates (each of which buffers the
    // full column per group); Spark's exact percentile interpolates with
    // the same index = p*(n-1) linear rule as percentile_cont, so the
    // values are identical — the oracle still runs the percentile_cont
    // spelling on the DuckDB side
    s.sql("""
      SELECT l_returnflag, pcts[0] AS p25, pcts[1] AS median, pcts[2] AS p75,
             round(pd, 2) AS median_disc
      FROM (
        SELECT l_returnflag,
               percentile(round(l_extendedprice), array(0.25D, 0.5D, 0.75D)) AS pcts,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS pd
        FROM lineitem_pct_v
        GROUP BY l_returnflag)""")
  }

  /** Bivariate linear-regression aggregates: OLS slope/intercept/R² of
    * extended price on quantity per return flag. The regr_* family keeps
    * a six-number moment tuple per group, so partial aggregation combines
    * map-side — one shuffle of O(groups) rows at any scale.
    */
  def q75RegrAgg(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 2).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 2).as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 4).as("r2"),
        regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
  }

  /** Deterministic mode: each user's most frequent event type, ties broken
    * lexicographically. Built as count + window-rank rather than `mode()`
    * because both engines' mode() picks an arbitrary value on ties —
    * determinism is part of the operator contract here.
    */
  def q76DeterministicMode(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("n").desc, col("event_type"))
    counts
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("modal_type"), col("n"))
  }

  /** Gaps-and-islands: maximal runs of consecutive event_ids per user
    * within the click stream. The classic row_number-difference grouping:
    * consecutive ids share (event_id - row_number), one window + one agg.
    */
  def q77Islands(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    t(s, dir, "events")
      .filter(col("event_type") === "click")
      .withColumn("grp", col("event_id") - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(
        min(col("event_id")).as("start_id"),
        max(col("event_id")).as("end_id"),
        count(lit(1)).as("len"))
      .select(col("user_id"), col("start_id"), col("end_id"), col("len"))
  }

  /** Correlated LATERAL join: each high-balance customer's two most
    * expensive orders. The lateral subquery is correlated on c_custkey
    * and carries its own ORDER BY + LIMIT; Catalyst decorrelates it into
    * a ranked join rather than executing per outer row.
    */
  def q78LateralTopN(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer_lat_v")
    t(s, dir, "orders").createOrReplaceTempView("orders_lat_v")
    s.sql("""
      SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS price
      FROM customer_lat_v c,
      LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders_lat_v o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
      ) t
      WHERE c.c_acctbal > 9000""")
  }

  /** Spark 4 VariantType payload access: parse the JSON props envelope
    * once into a variant (binary semi-structured encoding — no schema
    * declared up front, unlike from_json) and extract typed fields.
    * variant_get casts strictly; try_variant_get yields NULL on a type
    * miss. The VERDICT-noted alternative to q28/q59's fixed-schema paths.
    */
  def q79Variant(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "events").createOrReplaceTempView("events_var_v")
    s.sql("""
      SELECT event_id,
             variant_get(parse_json(props), '$.k', 'bigint') AS k_val,
             variant_get(parse_json(props), '$.k', 'string') AS k_str,
             CAST(try_variant_get(parse_json(props), '$.k', 'date') AS STRING) AS k_as_date,
             try_variant_get(parse_json(props), '$.missing', 'bigint') IS NULL AS missing_absent
      FROM events_var_v""")
  }

  /** The NATIVE as-of join (custom Catalyst operator, `plans/AsOfJoin`):
    * click→purchase attribution as q11, but as a two-table as-of with the
    * engine's own exec — oracle-checked against DuckDB's built-in
    * ASOF LEFT JOIN. Clicks pre-aggregated to unique (user, ts) so tie
    * resolution cannot differ between engines.
    */
  def q80AsofNative(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
    graft.plans.AsOfJoinOp(purchases, clicks, Seq("user_id"), "ts", "ts")
      .select(col("event_id"), col("user_id"), col("click_id"))
  }

  /** The native as-of join's TOLERANCE path: q80's attribution bounded to
    * a 6-hour lookback (21_600_000_000 micros — tolerance is in the time
    * column's native unit). The engine selects the latest click <= the
    * purchase time and null-pads when that candidate is older than the
    * bound; because any earlier candidate is farther still, this equals
    * "latest click within [ts - 6h, ts]" — which DuckDB expresses as its
    * ASOF match postfiltered by the bound (the oracle's CASE).
    */
  def q81AsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = e.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("click_id"))
    graft.plans.AsOfJoinOp(purchases, clicks, Seq("user_id"), "ts", "ts",
        tolerance = Some(6L * 3600 * 1000000))
      .select(col("event_id"), col("user_id"), col("click_id"))
  }

  val entries: Seq[Entry] = Seq(
    Entry("q81_asof_tolerance", q81AsofTolerance _, """
      WITH purchases AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      clicks AS (
        SELECT user_id, ts, max(event_id) AS click_id
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
      SELECT p.event_id, p.user_id,
             CASE WHEN c.ts >= p.ts - INTERVAL 6 HOUR THEN c.click_id END AS click_id
      FROM purchases p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND c.ts <= p.ts
      ORDER BY p.event_id"""),
    Entry("q80_asof_native", q80AsofNative _, """
      WITH purchases AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      clicks AS (
        SELECT user_id, ts, max(event_id) AS click_id
        FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
      SELECT p.event_id, p.user_id, c.click_id
      FROM purchases p ASOF LEFT JOIN clicks c
        ON p.user_id = c.user_id AND c.ts <= p.ts
      ORDER BY p.event_id"""),
    Entry("q74_percentiles", q74Percentiles _, """
      SELECT l_returnflag,
             percentile_cont(0.25) WITHIN GROUP (ORDER BY round(l_extendedprice)) AS p25,
             percentile_cont(0.5)  WITHIN GROUP (ORDER BY round(l_extendedprice)) AS median,
             percentile_cont(0.75) WITHIN GROUP (ORDER BY round(l_extendedprice)) AS p75,
             round(percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice), 2) AS median_disc
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    Entry("q75_regr_agg", q75RegrAgg _, """
      SELECT l_returnflag,
             round(regr_slope(l_extendedprice, l_quantity), 2) AS slope,
             round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
             round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
             regr_count(l_extendedprice, l_quantity) AS n
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    Entry("q76_deterministic_mode", q76DeterministicMode _, """
      SELECT user_id, event_type AS modal_type, count(*) AS n
      FROM events
      GROUP BY user_id, event_type
      QUALIFY row_number() OVER (PARTITION BY user_id
                                 ORDER BY count(*) DESC, event_type) = 1
      ORDER BY user_id"""),
    Entry("q77_islands", q77Islands _, """
      WITH clicks AS (
        SELECT user_id, event_id,
               event_id - row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS grp
        FROM events WHERE event_type = 'click')
      SELECT user_id, min(event_id) AS start_id, max(event_id) AS end_id,
             count(*) AS len
      FROM clicks
      GROUP BY user_id, grp
      ORDER BY user_id, start_id"""),
    Entry("q79_variant", q79Variant _, """
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
             json_extract_string(props, '$.k') AS k_str,
             CAST(TRY_CAST(json_extract_string(props, '$.k') AS DATE) AS VARCHAR) AS k_as_date,
             json_extract_string(props, '$.missing') IS NULL AS missing_absent
      FROM events
      ORDER BY event_id"""),
    Entry("q78_lateral_topn", q78LateralTopN _, """
      SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS price
      FROM customer c,
      LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
      ) t
      WHERE c.c_acctbal > 9000
      ORDER BY c.c_custkey, price DESC, t.o_orderkey"""))
}
