package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Relational operator inventory (SURVEY §2.2-§2.7, §2.11 J1/A5/W2/O1-O3,
  * F1-F4): scans, filter+project, every join shape, hash aggregation,
  * rollup/cube/grouping-sets, window functions, sort/limit/top-k, set ops,
  * and the scalar-function suite — each as a named query over the driver
  * test tables with a DuckDB oracle.
  *
  * Design rules applied throughout (these are the 100 TB rules, not test
  * conveniences):
  *  - filters/projections are expressed directly on the scan so Catalyst
  *    pushes them into Parquet (`PushedFilters`/`ReadSchema`);
  *  - dimension tables (region/nation/part/supplier) are `broadcast()` when
  *    joined against fact tables — no shuffle of the big side;
  *  - aggregations are plain `groupBy().agg()` — Catalyst plans
  *    partial+final hash aggregation (map-side combine) automatically;
  *  - no query promises a row order (README "Design rules"): the
  *    hash-compare oracle sorts rows itself, so only a top-k sorts;
  *  - floating-point aggregates are `round`-ed in both engines so summation
  *    order (which legitimately differs across partitionings) cannot leak
  *    into the comparison.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  // ---- scans / filter / project --------------------------------------------

  /** Full-scan aggregate in the shape of TPC-H Q1: one pass over lineitem,
    * partial+final hash agg on a low-cardinality key. The scan should show
    * PushedFilters: [LessThanOrEqual(l_shipdate,...)] and a 7-column
    * ReadSchema.
    */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1999-12-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Selective filter + narrow projection: both the predicate and the
    * 3-column ReadSchema must reach the Parquet scan.
    */
  def q02FilterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_quantity") > 45 && col("l_discount") >= 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"))

  // ---- joins ---------------------------------------------------------------

  /** Equi inner join fact-to-dim, aggregated. customer is far smaller than
    * orders ⇒ broadcast; no shuffle of orders.
    */
  def q03JoinCustomerOrders(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
  }

  /** Broadcast-hash join of the lineitem fact against the part dim;
    * revenue per brand. At 100 TB `part` stays broadcastable (dims grow
    * slowly); AQE would pick BHJ anyway but we pin it.
    */
  def q04BroadcastJoin(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Multi-way join in the shape of TPC-H Q5 (customer⋈orders⋈lineitem⋈
    * supplier⋈nation⋈region). The two fact tables shuffle on their join
    * keys once; all dims broadcast. The c_nationkey = s_nationkey clause
    * keeps the TPC-H "local supplier" semantics.
    */
  def q05RevenueByNation(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    val l = t(s, dir, "lineitem")
    val su = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(su), l("l_suppkey") === su("s_suppkey") && c("c_nationkey") === su("s_nationkey"))
      .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .filter(r("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
  }

  /** Left outer join keeping customers with zero orders (count(o_orderkey)
    * counts non-null only, so they show 0).
    */
  def q06LeftJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent"))
  }

  /** Left-semi join = EXISTS: customers holding at least one finished order.
    * Semi joins ship only the key column of the probe side and stop at first
    * match — cheaper than inner-join+distinct at scale.
    */
  def q07SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** Left-anti join = NOT EXISTS: customers with no in-progress orders. */
  def q08AntiJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("acctbal"))
  }

  /** Full outer join between the customer dim and per-customer order
    * aggregates — rows survive from both unmatched sides.
    */
  def q09FullOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val agg = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"))
    c.join(agg, c("c_custkey") === agg("o_custkey"), "full_outer")
      .select(
        coalesce(c("c_custkey"), agg("o_custkey")).as("custkey"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
  }

  /** Non-equi (range) join: parts bucketed into size bands. The bands table
    * is a 3-row literal ⇒ broadcast nested-loop, which is the right plan for
    * a tiny theta side at any scale.
    */
  def q10RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    val bands = s.createDataFrame(Seq(
      ("small", 1, 15),
      ("medium", 16, 35),
      ("large", 36, 50)
    )).toDF("band", "lo", "hi")
    p.join(broadcast(bands), p("p_size") >= bands("lo") && p("p_size") <= bands("hi"))
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("n_parts"),
        round(avg(col("p_retailprice")), 4).as("avg_price"))
  }

  /** As-of join expressed with the union+window idiom (SURVEY §2.3): for
    * each purchase event, the most recent preceding click by the same user.
    * Single shuffle on user_id, then a per-partition sort — no N×M range
    * join, which is what makes this formulation hold at 100 TB.
    */
  def q11AsOfJoin(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("prev_click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("prev_click_id"))
  }

  // ---- aggregation variants ------------------------------------------------

  /** Distinct aggregation: exact distinct counts force a second shuffle per
    * distinct column (expand + two-phase agg) — worth knowing the cost vs
    * approx_count_distinct at 100 TB.
    */
  def q12DistinctAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))

  /** ROLLUP hierarchy totals. Subtotal rows are surfaced via COALESCE to a
    * sentinel (both engines agree; grouping-set nulls vs data nulls are
    * unambiguous because these columns are never null in the data).
    */
  def q13Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("sum_qty"), col("n"))

  /** CUBE over two order dims. */
  def q14Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(round(sum(col("o_totalprice")), 2).as("total"), count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("total"), col("n"))

  /** GROUPING SETS (two independent groupings in one pass over the fact). */
  def q15GroupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("graft_orders")
    s.sql("""
      SELECT coalesce(o_orderstatus, 'ALL')   AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             count(*)                          AS n,
             round(sum(o_totalprice), 2)       AS total
      FROM graft_orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""")
  }

  // ---- window functions ----------------------------------------------------

  /** Ranking window: top-3 orders per customer by price. The rank is made
    * total (price desc, orderkey) so ties cannot produce nondeterminism.
    */
  def q16WindowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), round(col("o_totalprice"), 2).as("totalprice"), col("rk"))
  }

  /** Running-total frame (rows unbounded preceding → current). Accumulation
    * order is pinned by the window sort, so the float sum is deterministic.
    */
  def q17WindowRunning(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("running_spend", round(sum(col("o_totalprice")).over(w), 2))
      .select(col("o_custkey"), col("o_orderkey"), col("running_spend"))
  }

  /** lag/lead analytics: inter-event gap per user in exact microseconds. */
  def q18WindowLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("gap_us", unix_micros(col("ts")) - unix_micros(col("prev_ts")))
      .select(col("user_id"), col("event_id"), col("gap_us"))
  }

  /** Moving average over a bounded row frame (3-row trailing window). */
  def q19WindowMovingAvg(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, Window.currentRow)
    t(s, dir, "events")
      .withColumn("mavg", round(avg(col("value")).over(w), 4))
      .select(col("user_id"), col("event_id"), col("mavg"))
  }

  /** ntile + dense_rank over a global ordering (single-partition window —
    * acceptable only because it ranks an already-aggregated, small result;
    * never window a raw fact without a partition key).
    */
  def q20NtileDenseRank(s: SparkSession, dir: String): DataFrame = {
    val perCust = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("spend"))
    val w = Window.orderBy(col("spend").desc, col("o_custkey"))
    perCust
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("drk", dense_rank().over(w))
  }

  // ---- sort / limit / top-k / set ops -------------------------------------

  /** Global top-k: planned as TakeOrderedAndProject — each partition keeps k
    * rows, the driver merges; no global sort at any scale.
    */
  def q21TopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("totalprice"))
      .limit(20)

  /** UNION ALL with provenance tag. */
  def q22Union(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
      .select(col("c_nationkey").cast("int").as("nationkey"), lit("customer").as("side"))
    val su = t(s, dir, "supplier")
      .select(col("s_nationkey").cast("int").as("nationkey"), lit("supplier").as("side"))
    c.unionByName(su)
      .groupBy(col("nationkey"), col("side"))
      .agg(count(lit(1)).as("n"))
  }

  /** INTERSECT (distinct set semantics): customers active in both finished
    * and open orders.
    */
  def q23Intersect(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    f.intersect(open)
  }

  /** EXCEPT (distinct): customers with finished orders but no in-progress
    * ones.
    */
  def q24Except(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val f = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
    val p = o.filter(col("o_orderstatus") === "P").select(col("o_custkey").as("custkey"))
    f.except(p)
  }

  // ---- scalar function suites ---------------------------------------------

  /** String function suite over part. */
  def q25StringFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 5).as("prefix"),
        regexp_replace(col("p_name"), "[aeiou]", "").as("devoweled"),
        concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"),
        when(col("p_name").contains("green"), lit(1)).otherwise(lit(0)).as("has_green"),
        size(split(col("p_name"), " ")).as("n_words"))

  /** Date/time function suite over orders (UTC everywhere; Spark dayofweek
    * is 1=Sunday..7 while DuckDB's is 0-based — the oracle compensates).
    */
  def q26DateFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        dayofweek(col("o_orderdate")).as("dow"),
        quarter(col("o_orderdate")).as("qtr"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("days_since_epoch"))

  /** Math function suite (results rounded: libm implementations may differ
    * in the last ulp between engines).
    */
  def q27MathFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") <= 1000)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        round(abs(col("l_extendedprice") - col("l_quantity") * lit(100)), 2).as("abs_diff"),
        floor(col("l_extendedprice")).as("floor_price"),
        ceil(col("l_discount") * 100).as("disc_pct"),
        round(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
        round(log(col("l_extendedprice") + 1), 6).as("ln_price"),
        round(pow(col("l_quantity"), 2), 2).as("qty_sq"),
        (col("l_orderkey") % 7).as("mod7"))

  /** JSON extraction from the semi-structured `props` payload — the engine
    * analog of the reference's `DATA text` JSON column
    * (initial_db.sql:10; payload shape PlayerResourceIT.java:116-120).
    */
  def q28JsonFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(
        round(avg(col("k")), 4).as("avg_k"),
        max(col("k")).as("max_k"),
        count(lit(1)).as("n"))

  /** Conditional aggregation (CASE inside agg — one pass, no self-joins). */
  def q29CaseAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .agg(
        round(sum(when(col("l_returnflag") === "R", col("l_extendedprice")).otherwise(lit(0.0))), 2).as("returned_value"),
        round(sum(when(col("l_returnflag") =!= "R", col("l_extendedprice")).otherwise(lit(0.0))), 2).as("kept_value"),
        round(avg(when(col("l_discount") > 0.05, col("l_discount"))), 4).as("avg_big_disc"))

  /** Scalar subquery: customers above the global average balance. The
    * average is a 1-row aggregate broadcast against the scan.
    */
  def q30ScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val avgBal = c.agg(avg(col("c_acctbal")).as("ab"))
    c.join(broadcast(avgBal))
      .filter(col("c_acctbal") > col("ab"))
      .select(col("c_custkey"), round(col("c_acctbal"), 2).as("acctbal"))
  }

  /** Correlated EXISTS with a predicate on the inner side: orders containing
    * a near-max-quantity line. Planned as a left-semi hash join.
    */
  def q31CorrelatedExists(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val big = t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
    o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"), round(col("o_totalprice"), 2).as("totalprice"))
  }

  // ---- oracle SQL ----------------------------------------------------------

  /** Name → runner and its DuckDB equivalent, column-name-aligned with the
    * Spark results. */
  val entries: Seq[Entry] = Seq(
    Entry("q01_pricing_summary", q01PricingSummary _, """
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_extendedprice), 4) AS avg_price,
             round(avg(l_discount), 4) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    Entry("q02_filter_project", q02FilterProject _, """
      SELECT l_orderkey, l_linenumber, l_quantity, l_discount
      FROM lineitem
      WHERE l_quantity > 45 AND l_discount >= 0.05
      ORDER BY l_orderkey, l_linenumber"""),
    Entry("q03_join_customer_orders", q03JoinCustomerOrders _, """
      SELECT c_mktsegment, count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment"""),
    Entry("q04_broadcast_join", q04BroadcastJoin _, """
      SELECT p_brand,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             count(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand
      ORDER BY p_brand"""),
    Entry("q05_revenue_by_nation", q05RevenueByNation _, """
      SELECT n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name
      ORDER BY n_name"""),
    Entry("q06_left_join", q06LeftJoin _, """
      SELECT c_custkey, count(o_orderkey) AS n_orders,
             round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
      ORDER BY c_custkey"""),
    Entry("q07_semi_join", q07SemiJoin _, """
      SELECT c_custkey, c_name, c_mktsegment
      FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      ORDER BY c_custkey"""),
    Entry("q08_anti_join", q08AntiJoin _, """
      SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
      ORDER BY c_custkey"""),
    Entry("q09_full_outer_join", q09FullOuterJoin _, """
      SELECT coalesce(c_custkey, o_custkey) AS custkey,
             coalesce(n_orders, 0) AS n_orders
      FROM customer
      FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders
                       FROM orders GROUP BY o_custkey) agg
        ON c_custkey = o_custkey
      ORDER BY custkey"""),
    Entry("q10_range_join", q10RangeJoin _, """
      SELECT band, count(*) AS n_parts, round(avg(p_retailprice), 4) AS avg_price
      FROM part
      JOIN (VALUES ('small', 1, 15), ('medium', 16, 35), ('large', 36, 50))
           AS bands(band, lo, hi)
        ON p_size >= lo AND p_size <= hi
      GROUP BY band
      ORDER BY band"""),
    Entry("q11_asof_join", q11AsOfJoin _, """
      SELECT event_id, user_id, prev_click_id
      FROM (SELECT event_id, user_id, event_type,
                   last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_id
            FROM events) sub
      WHERE event_type = 'purchase'
      ORDER BY event_id"""),
    Entry("q12_distinct_agg", q12DistinctAgg _, """
      SELECT l_returnflag,
             count(DISTINCT l_partkey) AS n_parts,
             count(DISTINCT l_suppkey) AS n_supps,
             count(*) AS n_rows
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    Entry("q13_rollup", q13Rollup _, """
      SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
             coalesce(l_linestatus, 'ALL') AS linestatus,
             round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
      FROM lineitem
      GROUP BY ROLLUP (l_returnflag, l_linestatus)
      ORDER BY returnflag, linestatus"""),
    Entry("q14_cube", q14Cube _, """
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             round(sum(o_totalprice), 2) AS total, count(*) AS n
      FROM orders
      GROUP BY CUBE (o_orderstatus, o_orderpriority)
      ORDER BY status, priority"""),
    Entry("q15_grouping_sets", q15GroupingSets _, """
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      ORDER BY status, priority"""),
    Entry("q16_window_rank", q16WindowRank _, """
      SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rk
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rk
            FROM orders) sub
      WHERE rk <= 3
      ORDER BY o_custkey, rk"""),
    Entry("q17_window_running", q17WindowRunning _, """
      SELECT o_custkey, o_orderkey,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                           ORDER BY o_orderdate, o_orderkey
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_spend
      FROM orders
      ORDER BY o_custkey, o_orderkey"""),
    Entry("q18_window_lag", q18WindowLag _, """
      SELECT user_id, event_id,
             epoch_us(ts) - epoch_us(lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               AS gap_us
      FROM events
      ORDER BY user_id, event_id"""),
    Entry("q19_window_moving_avg", q19WindowMovingAvg _, """
      SELECT user_id, event_id,
             round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mavg
      FROM events
      ORDER BY user_id, event_id"""),
    Entry("q20_ntile_dense_rank", q20NtileDenseRank _, """
      SELECT o_custkey, spend,
             ntile(4) OVER (ORDER BY spend DESC, o_custkey) AS quartile,
             dense_rank() OVER (ORDER BY spend DESC, o_custkey) AS drk
      FROM (SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
            FROM orders GROUP BY o_custkey) sub
      ORDER BY o_custkey"""),
    Entry("q21_topk", q21TopK _, """
      SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 20"""),
    Entry("q22_union", q22Union _, """
      SELECT nationkey, side, count(*) AS n
      FROM (SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
            UNION ALL
            SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier) u
      GROUP BY nationkey, side
      ORDER BY nationkey, side"""),
    Entry("q23_intersect", q23Intersect _, """
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      ORDER BY o_custkey"""),
    Entry("q24_except", q24Except _, """
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'
      ORDER BY custkey"""),
    Entry("q25_string_funcs", q25StringFuncs _, """
      SELECT p_partkey,
             upper(p_name) AS uname,
             length(p_name) AS name_len,
             substring(p_name, 1, 5) AS prefix,
             regexp_replace(p_name, '[aeiou]', '', 'g') AS devoweled,
             concat_ws('/', p_brand, p_type) AS brand_type,
             CASE WHEN p_name LIKE '%green%' THEN 1 ELSE 0 END AS has_green,
             len(string_split(p_name, ' ')) AS n_words
      FROM part
      ORDER BY p_partkey"""),
    Entry("q26_date_funcs", q26DateFuncs _, """
      SELECT o_orderkey,
             year(o_orderdate) AS yr,
             month(o_orderdate) AS mo,
             dayofmonth(o_orderdate) AS dom,
             dayofweek(o_orderdate) + 1 AS dow,
             quarter(o_orderdate) AS qtr,
             date_trunc('month', o_orderdate) AS month_start,
             date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch
      FROM orders
      ORDER BY o_orderkey"""),
    Entry("q27_math_funcs", q27MathFuncs _, """
      SELECT l_orderkey, l_linenumber,
             round(abs(l_extendedprice - l_quantity * 100), 2) AS abs_diff,
             CAST(floor(l_extendedprice) AS BIGINT) AS floor_price,
             CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct,
             round(sqrt(l_extendedprice), 6) AS sqrt_price,
             round(ln(l_extendedprice + 1), 6) AS ln_price,
             round(pow(l_quantity, 2), 2) AS qty_sq,
             l_orderkey % 7 AS mod7
      FROM lineitem
      WHERE l_orderkey <= 1000
      ORDER BY l_orderkey, l_linenumber"""),
    Entry("q28_json_funcs", q28JsonFuncs _, """
      SELECT event_type,
             round(avg(k), 4) AS avg_k,
             max(k) AS max_k,
             count(*) AS n
      FROM (SELECT event_type,
                   CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
            FROM events) sub
      GROUP BY event_type
      ORDER BY event_type"""),
    Entry("q29_case_agg", q29CaseAgg _, """
      SELECT l_linestatus,
             round(sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END), 2) AS returned_value,
             round(sum(CASE WHEN l_returnflag <> 'R' THEN l_extendedprice ELSE 0 END), 2) AS kept_value,
             round(avg(CASE WHEN l_discount > 0.05 THEN l_discount END), 4) AS avg_big_disc
      FROM lineitem
      GROUP BY l_linestatus
      ORDER BY l_linestatus"""),
    Entry("q30_scalar_subquery", q30ScalarSubquery _, """
      SELECT c_custkey, round(c_acctbal, 2) AS acctbal
      FROM customer
      WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
      ORDER BY c_custkey"""),
    Entry("q31_correlated_exists", q31CorrelatedExists _, """
      SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
      ORDER BY o_orderkey"""))
}
