package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Second relational batch: pivot, HAVING, statistical aggregates,
  * min_by/max_by, ordered list aggregation, cross join, regex extraction,
  * JSON construction (S6), and the CQRS tombstone fold as an
  * oracle-checkable query. Same design rules as [[Relational]].
  */
object Relational2 {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** PIVOT with an explicit value list (explicit = single-pass, no extra
    * distinct-scan job to discover pivot values — the scale-correct form).
    */
  def q39Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))

  /** HAVING: post-aggregation predicate (Catalyst plans it as Filter over
    * Aggregate — no second pass).
    */
  def q40Having(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("spend"))
      .filter(col("n_orders") >= 14)

  /** Statistical aggregates: stddev/variance (sample), exact interpolated
    * median (percentile ≡ DuckDB quantile_cont), all rounded against
    * accumulation-order noise.
    */
  def q41StatsAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(
        round(stddev_samp(col("o_totalprice")), 4).as("sd"),
        round(var_samp(col("o_totalprice")), 4).as("variance"),
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("median"),
        round(avg(col("o_totalprice")), 4).as("mean"),
        count(lit(1)).as("n"))

  /** min_by/max_by: the one-pass argmin/argmax aggregate (same machinery as
    * the flagship latest-state fold).
    */
  def q42ArgMinMax(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        max_by(col("o_orderkey"), col("o_totalprice")).as("priciest_order"),
        min_by(col("o_orderkey"), col("o_totalprice")).as("cheapest_order"),
        round(max(col("o_totalprice")), 2).as("max_price"))

  /** Ordered list aggregation. The sorted list is emitted as a CSV string:
    * deterministic on both engines, and scalar-typed so any row-sorting
    * comparator downstream can order it (raw array cells are not totally
    * ordered in pandas/pyarrow comparators).
    */
  def q43CollectList(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(concat_ws(",", sort_array(collect_list(col("o_orderstatus")))).as("statuses"),
        count(lit(1)).as("n"))

  /** Cartesian product of the two smallest dims — the explicit cross-join
    * operator (BroadcastNestedLoopJoin; only ever sane when one side is
    * tiny, which is the point of demonstrating it on nation × region).
    */
  def q44CrossJoin(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      .crossJoin(t(s, dir, "region").select(col("r_regionkey"), col("r_name")))

  /** Regex group extraction (dialect-shared syntax only). */
  def q45RegexpExtract(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(
        col("p_partkey"),
        regexp_extract(col("p_name"), "^([a-z]+)", 1).as("first_word"),
        regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
        regexp_extract(col("p_type"), "([A-Z]+)", 1).as("type_head"))

  /** S6 JSON egress: parse the semi-structured payload, then re-serialize a
    * typed struct — the reference's read-model JSON boundary
    * (PlayerResourceIT.java:131-139) as a query.
    */
  def q46JsonRoundtrip(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        col("event_id"),
        to_json(struct(
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("event_type").as("t"))).as("payload"))

  /** The CQRS tombstone fold, oracle-checkable: current state per aggregate,
    * dropping aggregates whose *latest* event is the tombstone type
    * ('error' plays PlayerDeleted — observed delete semantics
    * PlayerResourceIT.java:182-188 over the scale surrogate).
    */
  def q47LatestLiveState(s: SparkSession, dir: String): DataFrame = {
    val latest = graft.state.Materialize.latestState(
      t(s, dir, "events"), "user_id", "event_id")
    latest.filter(col("event_type") =!= "error")
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
  }

  /** S5 JSON ingest with an explicit schema (`from_json` — the typed parse
    * used by the read-model fold, vs q28's path-extraction form). Schema is
    * declared, never inferred, mirroring the reference's per-NAME payload
    * contracts (SURVEY §1.3).
    */
  def q49FromJson(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_id"),
        from_json(col("props"), lit("k LONG")).getField("k").as("k"))
      .filter(col("k") > 50)

  /** Deterministic systematic sampling (key-modulus) — the reproducible
    * alternative to TABLESAMPLE for pipeline debugging/estimation: the same
    * ~5% sample on every engine and every run, no RNG state.
    */
  def q51Sample(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter((col("l_orderkey") * 31 + col("l_linenumber")) % 97 < 5)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))

  /** NULL-handling suite: nullif/coalesce/null-safe equality/null ordering.
    * The source tables carry no nulls, so nulls are introduced with nullif —
    * exercising three-valued logic end to end.
    */
  def q52NullHandling(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        nullif(col("o_orderstatus"), lit("P")).as("status_or_null"),
        coalesce(nullif(col("o_orderstatus"), lit("P")), lit("PENDING")).as("status_filled"),
        nullif(col("o_orderstatus"), lit("P")).eqNullSafe(lit("F")).as("is_f_nullsafe"),
        isnull(nullif(col("o_orderstatus"), lit("P"))).as("was_pending"))

  val entries: Seq[Entry] = Seq(
    Entry("q51_sample", q51Sample _, """
      SELECT l_orderkey, l_linenumber, l_quantity
      FROM lineitem
      WHERE (l_orderkey * 31 + l_linenumber) % 97 < 5
      ORDER BY l_orderkey, l_linenumber"""),
    Entry("q52_null_handling", q52NullHandling _, """
      SELECT o_orderkey,
             nullif(o_orderstatus, 'P') AS status_or_null,
             coalesce(nullif(o_orderstatus, 'P'), 'PENDING') AS status_filled,
             nullif(o_orderstatus, 'P') IS NOT DISTINCT FROM 'F' AS is_f_nullsafe,
             nullif(o_orderstatus, 'P') IS NULL AS was_pending
      FROM orders
      ORDER BY o_orderkey"""),
    Entry("q49_from_json", q49FromJson _, """
      SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      FROM events
      WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
      ORDER BY event_id"""),
    Entry("q39_pivot", q39Pivot _, """
      SELECT o_orderpriority,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
             count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
             count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""),
    Entry("q40_having", q40Having _, """
      SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
      FROM orders
      GROUP BY o_custkey
      HAVING count(*) >= 14
      ORDER BY o_custkey"""),
    Entry("q41_stats_agg", q41StatsAgg _, """
      SELECT o_orderstatus,
             round(stddev_samp(o_totalprice), 4) AS sd,
             round(var_samp(o_totalprice), 4) AS variance,
             round(quantile_cont(o_totalprice, 0.5), 4) AS median,
             round(avg(o_totalprice), 4) AS mean,
             count(*) AS n
      FROM orders
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus"""),
    Entry("q42_argminmax", q42ArgMinMax _, """
      SELECT o_custkey,
             arg_max(o_orderkey, o_totalprice) AS priciest_order,
             arg_min(o_orderkey, o_totalprice) AS cheapest_order,
             round(max(o_totalprice), 2) AS max_price
      FROM orders
      GROUP BY o_custkey
      ORDER BY o_custkey"""),
    Entry("q43_collect_list", q43CollectList _, """
      SELECT o_custkey, array_to_string(list_sort(array_agg(o_orderstatus)), ',') AS statuses,
             count(*) AS n
      FROM orders
      GROUP BY o_custkey
      ORDER BY o_custkey"""),
    Entry("q44_cross_join", q44CrossJoin _, """
      SELECT n_nationkey, n_name, r_regionkey, r_name
      FROM nation CROSS JOIN region
      ORDER BY n_nationkey, r_regionkey"""),
    Entry("q45_regexp_extract", q45RegexpExtract _, """
      SELECT p_partkey,
             regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
             regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
             regexp_extract(p_type, '([A-Z]+)', 1) AS type_head
      FROM part
      ORDER BY p_partkey"""),
    Entry("q46_json_roundtrip", q46JsonRoundtrip _, """
      SELECT event_id,
             to_json(struct_pack(
               k := CAST(json_extract_string(props, '$.k') AS BIGINT),
               t := event_type))::VARCHAR AS payload
      FROM events
      ORDER BY event_id"""),
    Entry("q47_latest_live_state", q47LatestLiveState _, """
      SELECT user_id, event_id, event_type, value
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM events) sub
      WHERE rn = 1 AND event_type <> 'error'
      ORDER BY user_id"""))
}
