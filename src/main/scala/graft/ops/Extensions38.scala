package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Thirty-eighth extension batch — conversion attribution:
  *
  *  - multi-touch attribution (x113): credit each conversion's
  *    preceding touches under the three standard models (first-touch,
  *    last-touch, linear) in one pass over the event log. The
  *    marketing-analytics question every event-log system answers
  *    ("which touch type drives purchases"), expressed with the
  *    engine's integer discipline: linear credit is micro-units via
  *    half-away division, so the report is exact longs — no float
  *    crosses an aggregation.
  */
object Extensions38 {

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Multi-touch attribution: conversions are `convType` events; a
    * touch (any type in `touchTypes`) attaches to its user's NEXT
    * conversion (the window since the previous conversion). Per
    * (model, touch_type): exact micro-credit (first/last: 1e6 per
    * attributed conversion; linear: halfAway(1e6/n) per touch) and the
    * number of conversions credited.
    *
    * Scale: one event-log scan; ONE user-key exchange carries the
    * ordinal window (the x85/x92 stacked-window discipline); per-
    * conversion stats are a hash-agg with min/max(struct) argmin —
    * no window over unaggregated touches, no self-joins of the log.
    */
  def attribution(
      log: DataFrame, userCol: String, typeCol: String, tsCol: String,
      ordCol: String, convType: String, touchTypes: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col("u")).orderBy(col("ts"), col("ord"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = log
      .filter(col(typeCol).isin((convType +: touchTypes): _*))
      .select(col(userCol).as("u"), col(typeCol).as("t"), col(tsCol).as("ts"),
        col(ordCol).as("ord"))
      .withColumn("conv",
        coalesce(sum(when(col("t") === convType, 1L).otherwise(0L)).over(w), lit(0L))
          + 1L)
    val convs = base.filter(col("t") === convType)
      .select(col("u"), col("conv"))
    val touches = base.filter(col("t") =!= convType)
      .select(col("u"), col("conv"), col("t"), col("ts"), col("ord"))
    val perConv = touches.join(convs, Seq("u", "conv"))
      .groupBy(col("u"), col("conv"))
      .agg(count(lit(1)).as("n"),
        min(struct(col("ts"), col("ord"), col("t"))).getField("t").as("first_t"),
        max(struct(col("ts"), col("ord"), col("t"))).getField("t").as("last_t"),
        collect_list(col("t")).as("ts_list"))
    val share = expr("(1000000 * 2 + n) DIV (2 * n)")
    val models = touchTypes.map { tt =>
      perConv.select(
        lit(tt).as("touch_type"),
        when(col("first_t") === tt, 1000000L).otherwise(0L).as("first_micro"),
        when(col("last_t") === tt, 1000000L).otherwise(0L).as("last_micro"),
        (size(filter(col("ts_list"), x => x === tt)).cast("long") * share)
          .as("linear_micro"),
        when(col("first_t") === tt, 1L).otherwise(0L).as("first_convs"),
        when(col("last_t") === tt, 1L).otherwise(0L).as("last_convs"),
        when(exists(col("ts_list"), x => x === tt), 1L).otherwise(0L)
          .as("linear_convs"))
    }.reduce(_ unionAll _)
    val agg = models.groupBy(col("touch_type")).agg(
      sum(col("first_micro")).as("first"), sum(col("first_convs")).as("first_n"),
      sum(col("last_micro")).as("last"), sum(col("last_convs")).as("last_n"),
      sum(col("linear_micro")).as("linear"), sum(col("linear_convs")).as("linear_n"))
    Seq("first", "last", "linear").map { m =>
      agg.select(lit(m).as("model"), col("touch_type"),
        col(m).as("credit_micro"), col(s"${m}_n").as("n_convs"))
    }.reduce(_ unionAll _)
  }

  /** x113: first/last/linear attribution of purchases to click/view
    * touches over the events fixture.
    */
  def x113Attribution(s: SparkSession, dir: String): DataFrame =
    attribution(table(s, dir, "events"), "user_id", "event_type", "ts",
        "event_id", convType = "purchase", touchTypes = Seq("click", "view"))

  private val x113OracleSql: String = """
      WITH base AS (
        SELECT user_id AS u, event_type AS t, ts, event_id AS ord,
               coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS conv
        FROM events
        WHERE event_type IN ('purchase', 'click', 'view')),
      convs AS (SELECT u, conv FROM base WHERE t = 'purchase'),
      touches AS (SELECT u, conv, t, ts, ord FROM base WHERE t <> 'purchase'),
      att AS (SELECT tc.u, tc.conv, tc.t, tc.ts, tc.ord
              FROM touches tc JOIN convs USING (u, conv)),
      pc AS (SELECT u, conv, count(*) AS n,
                    CAST(sum(CASE WHEN t = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                    CAST(sum(CASE WHEN t = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
             FROM att GROUP BY u, conv),
      fl AS (SELECT u, conv,
                    min(CASE WHEN rk_a = 1 THEN t END) AS first_t,
                    min(CASE WHEN rk_d = 1 THEN t END) AS last_t
             FROM (SELECT u, conv, t,
                          row_number() OVER (PARTITION BY u, conv ORDER BY ts, ord) AS rk_a,
                          row_number() OVER (PARTITION BY u, conv ORDER BY ts DESC, ord DESC) AS rk_d
                   FROM att)
             GROUP BY u, conv),
      j AS (SELECT pc.u, pc.conv, pc.n, pc.n_click, pc.n_view, fl.first_t, fl.last_t,
                   (1000000 * 2 + pc.n) // (2 * pc.n) AS share
            FROM pc JOIN fl USING (u, conv)),
      per AS (
        SELECT 'click' AS touch_type,
               CAST(sum(CASE WHEN first_t = 'click' THEN 1000000 ELSE 0 END) AS BIGINT) AS "first",
               CAST(sum(CASE WHEN first_t = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS first_n,
               CAST(sum(CASE WHEN last_t = 'click' THEN 1000000 ELSE 0 END) AS BIGINT) AS "last",
               CAST(sum(CASE WHEN last_t = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS last_n,
               CAST(sum(n_click * share) AS BIGINT) AS linear,
               CAST(sum(CASE WHEN n_click > 0 THEN 1 ELSE 0 END) AS BIGINT) AS linear_n
        FROM j
        UNION ALL
        SELECT 'view',
               CAST(sum(CASE WHEN first_t = 'view' THEN 1000000 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN first_t = 'view' THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN last_t = 'view' THEN 1000000 ELSE 0 END) AS BIGINT),
               CAST(sum(CASE WHEN last_t = 'view' THEN 1 ELSE 0 END) AS BIGINT),
               CAST(sum(n_view * share) AS BIGINT),
               CAST(sum(CASE WHEN n_view > 0 THEN 1 ELSE 0 END) AS BIGINT)
        FROM j)
      SELECT model, touch_type, credit_micro, n_convs FROM (
        SELECT 'first' AS model, touch_type, "first" AS credit_micro, first_n AS n_convs FROM per
        UNION ALL
        SELECT 'last', touch_type, "last", last_n FROM per
        UNION ALL
        SELECT 'linear', touch_type, linear, linear_n FROM per)
      ORDER BY model, touch_type"""

  val entries: Seq[Entry] = Seq(
    Entry("x113_attribution", x113Attribution _, x113OracleSql))
}
