package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Third relational batch — distribution windows, bitwise aggregation,
  * bivariate statistics, value-range frames, unpivot/melt, and
  * ignore-nulls window navigation. All are [absent] in the reference
  * (its query side is a key-value read model, SURVEY §2.3-§2.5); they
  * complete the analytic surface a user would expect when switching.
  *
  * Scale notes: every query here is a single window or hash-agg pass —
  * one shuffle on the partition/group key, partial aggregation where the
  * agg allows it, no self-joins. Range frames use a sliding frame over a
  * sorted partition (Spark's WindowExec keeps only the frame in memory,
  * so a 100 TB events table with bounded per-key data streams through).
  */
object Relational3 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Distribution ranks: percent_rank + cume_dist per order-priority
    * cohort. Both are tie-stable (equal inputs get equal ranks), so the
    * output is deterministic even under shuffle reordering.
    */
  def q53PercentRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"))
    t(s, dir, "orders")
      .filter(col("o_orderkey") <= 2000)
      .select(
        col("o_orderkey"),
        col("o_orderpriority"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
  }

  /** Bitwise aggregation (bit_and / bit_or / bit_xor) — pure integer
    * semantics, partial-aggregable (each is associative+commutative).
    */
  def q54BitwiseAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(
        expr("bit_and(l_linenumber)").cast("long").as("band"),
        expr("bit_or(l_linenumber)").cast("long").as("bor"),
        expr("bit_xor(l_linenumber)").cast("long").as("bxor"),
        count(lit(1)).as("n"))

  /** Bivariate statistics per return-flag cohort: Pearson correlation and
    * covariance. Rounded before compare — the one-pass co-moment update is
    * associativity-sensitive in the last ulps across engines.
    */
  def q55CorrStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("r"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 2).as("cov_p"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("cov_s"),
        count(lit(1)).as("n"))

  /** Value-range window frame: per-customer 30-day rolling spend, framed by
    * ORDER BY day-number RANGE 30 PRECEDING — frame membership depends only
    * on values (not row position), so ties cannot destabilize the result.
    */
  def q56RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("days"))
      .rangeBetween(-30, 0)
    t(s, dir, "orders")
      .withColumn("days", datediff(col("o_orderdate"), lit("1995-01-01")).cast("long"))
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        col("days"),
        round(sum(col("o_totalprice")).over(w), 2).as("spend_30d"))
  }

  /** Unpivot/melt: wide measure columns → (metric, value) rows — the
    * narrow shape feature pipelines want. Spark's native unpivot (no
    * explode-of-structs detour).
    */
  def q57Unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") <= 200)
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "value")

  /** IGNORE NULLS window navigation: first/last non-null observation per
    * user over the full partition (nulls injected deterministically — click
    * events carry no value — so the skip semantics actually bite).
    */
  def q58FirstLastIgnoreNulls(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "events")
      .withColumn("v", when(col("event_type") === "click", lit(null)).otherwise(col("value")))
      .select(
        col("event_id"),
        col("user_id"),
        round(first(col("v"), ignoreNulls = true).over(w), 2).as("first_v"),
        round(last(col("v"), ignoreNulls = true).over(w), 2).as("last_v"))
  }

  /** Map-typed payload access: parse the JSON props envelope into a real
    * MapType and drive the map function family (keys/lookup/cardinality/
    * membership) — the dynamic-schema analog of the reference's DATA column.
    */
  def q59MapFuncs(s: SparkSession, dir: String): DataFrame = {
    val m = from_json(col("props"), org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))
    t(s, dir, "events")
      .select(
        col("event_id"),
        array_join(array_sort(map_keys(m)), ",").as("keys"),
        element_at(m, "k").cast("long").as("k_val"),
        size(map_keys(m)).cast("long").as("n_keys"),
        // non-null membership, not key presence: a JSON null value for "k"
        // must read false here to match json_extract_string IS NOT NULL
        element_at(m, "k").isNotNull.as("has_k"))
  }

  /** Array set-algebra over token arrays (intersect/union/contains/sort) —
    * the HOF-free slice of the array function family.
    */
  def q60ArrayFuncs(s: SparkSession, dir: String): DataFrame = {
    val tk = split(lower(col("text")), " ")
    val head5 = slice(tk, 1, 5)
    // guarded tail: slice(tk, -5, 5) yields [] for arrays under 5 elements,
    // but the SQL idiom toks[-5:] yields the whole array — clamp the start
    // so both agree on short documents (latent only in larger fixtures)
    val tail5 = slice(tk, greatest(size(tk) - lit(4), lit(1)), lit(5))
    Tables.load(s, dir, "documents")
      .select(
        col("doc_id"),
        size(array_intersect(head5, tail5)).cast("long").as("n_common"),
        size(array_union(head5, tail5)).cast("long").as("n_union"),
        array_contains(tk, "the").as("has_the"),
        array_join(array_sort(array_distinct(head5)), " ").as("head_sorted"))
  }

  /** Boolean aggregates: bool_and / bool_or / count_if per cohort. */
  def q61BoolAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        expr("bool_and(o_totalprice > 1000)").as("all_gt_1k"),
        expr("bool_or(o_totalprice > 400000)").as("any_gt_400k"),
        expr("count_if(o_totalprice > 100000)").cast("long").as("n_gt_100k"),
        count(lit(1)).as("n"))

  /** Ordered string aggregation (listagg/string_agg): the SQL:2016 form of
    * q43's collect+join — deterministic via the WITHIN GROUP ordering.
    */
  def q62Listagg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_custkey") <= 100)
      .groupBy(col("o_custkey"))
      .agg(expr("listagg(o_orderstatus, ',') WITHIN GROUP (ORDER BY o_orderstatus, o_orderkey)")
        .as("statuses"))

  /** ANSI-safe error handling: try_divide / try_cast return NULL instead of
    * raising — the semantics a 100 TB batch job needs (one malformed row
    * must not kill a 6-hour stage). Division-by-zero and bad casts are
    * manufactured deterministically from the data.
    */
  def q63TryFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") <= 500)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        round(expr("try_divide(l_extendedprice, l_linenumber - 1)"), 4).as("per_prior_line"),
        expr("try_cast(l_returnflag AS INT)").as("flag_as_int"),
        expr("try_cast(concat('200', l_linenumber, '-01-01') AS DATE)").as("synth_date"))

  /** nth_value window navigation: 2nd-cheapest and 2nd-priciest order per
    * customer over the full partition.
    */
  def q64NthValue(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "orders")
      .filter(col("o_custkey") <= 300)
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        round(nth_value(col("o_totalprice"), 2).over(w), 2).as("second_cheapest"),
        round(nth_value(col("o_totalprice"), 2, ignoreNulls = false)
          .over(Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)), 2)
          .as("second_priciest"))
  }

  /** grouping_id over a rollup — the bitmask that distinguishes subtotal
    * levels without COALESCE sentinels.
    */
  def q65GroupingId(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("n"), col("total"))

  /** Calendar gap-fill: a dense (day × event_type) grid over the observed
    * range, zero-filling days with no events — the missing-row completion
    * every time-series rollup needs. The day spine is generated from the
    * data's own min/max (sequence + explode), the type dimension is tiny
    * and cross-joined (broadcast NLJ), and observed counts left-join on.
    */
  def q66Gapfill(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val bounds = e.agg(
      date_trunc("day", min(col("ts"))).as("d0"),
      date_trunc("day", max(col("ts"))).as("d1"))
    val cal = bounds.select(
      explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    val types = e.select(col("event_type")).distinct()
    // count only high-value events (sparse) — the spine still spans ALL
    // events, so the grid genuinely has holes for the join to zero-fill
    val counts = e.filter(col("value") > 300)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    cal.crossJoin(types)
      .join(counts, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
  }

  /** Date/interval arithmetic family: day offsets, month arithmetic,
    * month-end snapping — all on the DATE plane (both engines return DATE).
    */
  def q67IntervalArith(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderkey") <= 1000)
      .select(
        col("o_orderkey"),
        date_add(col("o_orderdate"), 30).as("due_30d"),
        add_months(col("o_orderdate"), 2).as("plus_2mo"),
        last_day(col("o_orderdate")).as("month_end"),
        datediff(last_day(col("o_orderdate")), to_date(col("o_orderdate"))).cast("long")
          .as("days_to_month_end"))

  /** least/greatest n-ary comparisons with NULL-propagation via nullif. */
  def q68LeastGreatest(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") <= 500)
      .select(
        col("l_orderkey"),
        col("l_linenumber"),
        round(least(col("l_extendedprice"), col("l_quantity") * 1000), 2).as("lo"),
        round(greatest(col("l_discount"), col("l_tax")), 2).as("hi_rate"),
        round(least(nullif(col("l_discount"), lit(0.0)), col("l_tax")), 2).as("lo_nonzero_disc"))

  /** String shaping: pad/repeat/reverse/translate — the formatting slice of
    * the string family q25/q45 don't cover.
    */
  def q69StringPad(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(
        col("p_partkey"),
        lpad(col("p_partkey").cast("string"), 10, "0").as("padded_key"),
        rpad(col("p_brand"), 12, ".").as("brand_cell"),
        reverse(col("p_name")).as("rev_name"),
        translate(col("p_type"), "AEIOU", "aeiou").as("lowered_vowels"),
        repeat(lit("*"), (col("p_size") % 5) + 1).as("stars"))

  /** Lateral column aliases: an alias defined in a SELECT is referenced by
    * later expressions in the SAME select list (no subquery nesting).
    */
  def q70LateralAlias(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .filter(col("o_orderkey") <= 2000)
      .selectExpr(
        "o_orderkey",
        "o_orderkey * 3 + o_custkey AS composite",
        "composite * 2 AS doubled",
        "doubled - o_orderkey AS derived")

  /** Recursive CTE (Spark 4.1 WITH RECURSIVE): walk each order key up its
    * binary-ancestry chain (k -> k div 2 -> ... -> 1) and report the walk
    * depth — pure integer recursion, identical on both engines. The
    * recursion engine (iterative UNION ALL expansion with a stop
    * predicate) is the capability under test; x18's oracle uses the same
    * machinery for transitive closure.
    */
  def q71RecursiveCte(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_rec_v")
    s.sql("""
      WITH RECURSIVE walk(k, node, steps) AS (
        SELECT o_orderkey, o_orderkey, 0 FROM orders_rec_v WHERE o_orderkey <= 200
        UNION ALL
        SELECT k, node DIV 2, steps + 1 FROM walk WHERE node > 1
      )
      SELECT k AS o_orderkey, CAST(max(steps) AS BIGINT) AS depth
      FROM walk GROUP BY k""")
  }

  /** FILTER-clause aggregates (SQL:2003): per-group conditional aggregation
    * without CASE scaffolding — each aggregate sees its own row subset.
    */
  def q72FilterAgg(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "lineitem").createOrReplaceTempView("lineitem_fa_v")
    s.sql("""
      SELECT l_returnflag,
             count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
             round(sum(l_extendedprice) FILTER (WHERE l_quantity >= 25), 2) AS bulk_value,
             round(avg(l_tax) FILTER (WHERE l_linestatus = 'F'), 4) AS avg_tax_f,
             count(*) AS n
      FROM lineitem_fa_v
      GROUP BY l_returnflag""")
  }

  /** NOT IN subquery — ANSI three-valued logic forces Spark's null-aware
    * anti join (a distinct physical operator from the NOT EXISTS anti join
    * in q08: one NULL in the subquery legally empties the result, so the
    * join must track null presence).
    */
  def q73NullAwareAnti(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer_na_v")
    t(s, dir, "orders").createOrReplaceTempView("orders_na_v")
    s.sql("""
      SELECT c_custkey, c_name
      FROM customer_na_v
      WHERE c_custkey NOT IN (SELECT o_custkey FROM orders_na_v WHERE o_orderstatus = 'F')""")
  }

  val entries: Seq[Entry] = Seq(
    Entry("q73_null_aware_anti", q73NullAwareAnti _, """
      SELECT c_custkey, c_name
      FROM customer
      WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      ORDER BY c_custkey"""),
    Entry("q72_filter_agg", q72FilterAgg _, """
      SELECT l_returnflag,
             count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
             round(sum(l_extendedprice) FILTER (WHERE l_quantity >= 25), 2) AS bulk_value,
             round(avg(l_tax) FILTER (WHERE l_linestatus = 'F'), 4) AS avg_tax_f,
             count(*) AS n
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    Entry("q71_recursive_cte", q71RecursiveCte _, """
      WITH RECURSIVE walk(k, node, steps) AS (
        SELECT o_orderkey, o_orderkey, 0 FROM orders WHERE o_orderkey <= 200
        UNION ALL
        SELECT k, node // 2, steps + 1 FROM walk WHERE node > 1
      )
      SELECT k AS o_orderkey, CAST(max(steps) AS BIGINT) AS depth
      FROM walk GROUP BY k ORDER BY o_orderkey"""),
    Entry("q67_interval_arith", q67IntervalArith _, """
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) + 30 AS due_30d,
             CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS plus_2mo,
             last_day(CAST(o_orderdate AS DATE)) AS month_end,
             CAST(last_day(CAST(o_orderdate AS DATE)) - CAST(o_orderdate AS DATE) AS BIGINT)
               AS days_to_month_end
      FROM orders
      WHERE o_orderkey <= 1000
      ORDER BY o_orderkey"""),
    Entry("q68_least_greatest", q68LeastGreatest _, """
      SELECT l_orderkey, l_linenumber,
             round(least(l_extendedprice, l_quantity * 1000), 2) AS lo,
             round(greatest(l_discount, l_tax), 2) AS hi_rate,
             round(least(nullif(l_discount, 0.0), l_tax), 2) AS lo_nonzero_disc
      FROM lineitem
      WHERE l_orderkey <= 500
      ORDER BY l_orderkey, l_linenumber"""),
    Entry("q69_string_pad", q69StringPad _, """
      SELECT p_partkey,
             lpad(CAST(p_partkey AS VARCHAR), 10, '0') AS padded_key,
             rpad(p_brand, 12, '.') AS brand_cell,
             reverse(p_name) AS rev_name,
             translate(p_type, 'AEIOU', 'aeiou') AS lowered_vowels,
             repeat('*', p_size % 5 + 1) AS stars
      FROM part
      ORDER BY p_partkey"""),
    Entry("q70_lateral_alias", q70LateralAlias _, """
      SELECT o_orderkey,
             o_orderkey * 3 + o_custkey AS composite,
             composite * 2 AS doubled,
             doubled - o_orderkey AS derived
      FROM orders
      WHERE o_orderkey <= 2000
      ORDER BY o_orderkey"""),
    Entry("q66_gapfill", q66Gapfill _, """
      WITH cal AS (
        SELECT unnest(generate_series(
                 date_trunc('day', (SELECT min(ts) FROM events)),
                 date_trunc('day', (SELECT max(ts) FROM events)),
                 INTERVAL 1 DAY)) AS day),
      types AS (SELECT DISTINCT event_type FROM events),
      counts AS (SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n
                 FROM events WHERE value > 300 GROUP BY 1, 2)
      SELECT cal.day, types.event_type, CAST(coalesce(counts.n, 0) AS BIGINT) AS n
      FROM cal CROSS JOIN types
      LEFT JOIN counts ON counts.day = cal.day AND counts.event_type = types.event_type
      ORDER BY cal.day, types.event_type"""),
    Entry("q64_nth_value", q64NthValue _, """
      SELECT o_orderkey, o_custkey,
             round(nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS second_cheapest,
             round(nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS second_priciest
      FROM orders
      WHERE o_custkey <= 300
      ORDER BY o_orderkey"""),
    Entry("q65_grouping_id", q65GroupingId _, """
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             CAST(GROUPING_ID(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
             count(*) AS n,
             round(sum(o_totalprice), 2) AS total
      FROM orders
      GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      ORDER BY gid, status, priority"""),
    Entry("q63_try_funcs", q63TryFuncs _, """
      SELECT l_orderkey, l_linenumber,
             round(l_extendedprice / nullif(l_linenumber - 1, 0), 4) AS per_prior_line,
             TRY_CAST(l_returnflag AS INT) AS flag_as_int,
             TRY_CAST(concat('200', l_linenumber, '-01-01') AS DATE) AS synth_date
      FROM lineitem
      WHERE l_orderkey <= 500
      ORDER BY l_orderkey, l_linenumber"""),
    Entry("q59_map_funcs", q59MapFuncs _, """
      SELECT event_id,
             array_to_string(list_sort(json_keys(props)), ',') AS keys,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
             CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
             json_extract_string(props, '$.k') IS NOT NULL AS has_k
      FROM events
      ORDER BY event_id"""),
    Entry("q60_array_funcs", q60ArrayFuncs _, """
      SELECT doc_id,
             CAST(len(list_intersect(head5, tail5)) AS BIGINT) AS n_common,
             CAST(len(list_distinct(list_concat(head5, tail5))) AS BIGINT) AS n_union,
             list_contains(tk, 'the') AS has_the,
             array_to_string(list_sort(list_distinct(head5)), ' ') AS head_sorted
      FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk,
                   string_split(lower(text), ' ')[1:5] AS head5,
                   string_split(lower(text), ' ')[-5:] AS tail5
            FROM documents)
      ORDER BY doc_id"""),
    Entry("q61_bool_agg", q61BoolAgg _, """
      SELECT o_orderpriority,
             bool_and(o_totalprice > 1000) AS all_gt_1k,
             bool_or(o_totalprice > 400000) AS any_gt_400k,
             CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_gt_100k,
             count(*) AS n
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    Entry("q62_listagg", q62Listagg _, """
      SELECT o_custkey,
             string_agg(o_orderstatus, ',' ORDER BY o_orderstatus, o_orderkey) AS statuses
      FROM orders
      WHERE o_custkey <= 100
      GROUP BY o_custkey
      ORDER BY o_custkey"""),
    Entry("q53_percent_rank", q53PercentRank _, """
      SELECT o_orderkey, o_orderpriority,
             round(percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice), 6) AS pr,
             round(cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice), 6) AS cd
      FROM orders
      WHERE o_orderkey <= 2000
      ORDER BY o_orderkey"""),
    Entry("q54_bitwise_agg", q54BitwiseAgg _, """
      SELECT l_orderkey,
             CAST(bit_and(l_linenumber) AS BIGINT) AS band,
             CAST(bit_or(l_linenumber) AS BIGINT) AS bor,
             CAST(bit_xor(l_linenumber) AS BIGINT) AS bxor,
             count(*) AS n
      FROM lineitem
      GROUP BY l_orderkey
      ORDER BY l_orderkey"""),
    Entry("q55_corr_stats", q55CorrStats _, """
      SELECT l_returnflag,
             round(corr(l_quantity, l_extendedprice), 4) AS r,
             round(covar_pop(l_quantity, l_extendedprice), 2) AS cov_p,
             round(covar_samp(l_quantity, l_extendedprice), 2) AS cov_s,
             count(*) AS n
      FROM lineitem
      GROUP BY l_returnflag
      ORDER BY l_returnflag"""),
    Entry("q56_range_frame", q56RangeFrame _, """
      SELECT o_orderkey, o_custkey, days,
             round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY days
                    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS spend_30d
      FROM (SELECT *, date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days
            FROM orders)
      ORDER BY o_orderkey"""),
    Entry("q57_unpivot", q57Unpivot _, """
      SELECT l_orderkey, l_linenumber, metric, value FROM (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
      WHERE l_orderkey <= 200
      ORDER BY l_orderkey, l_linenumber, metric"""),
    Entry("q58_first_last_ignore_nulls", q58FirstLastIgnoreNulls _, """
      SELECT event_id, user_id,
             round(first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS first_v,
             round(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS last_v
      FROM (SELECT *, CASE WHEN event_type = 'click' THEN NULL ELSE value END AS v
            FROM events)
      ORDER BY event_id"""))
}
