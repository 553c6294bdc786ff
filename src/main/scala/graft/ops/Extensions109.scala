package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-ninth extension batch — the two event-hygiene verbs a
  * long-lived log grows into:
  *
  *  - payload upcasting (x249): an append-only log accumulates payload
  *    GENERATIONS (v1 wrote `{"k":…}`, v2 renamed it, v3 added a
  *    field); replay must read them all. The upcaster applies the
  *    migration chain STEPWISE in version order — v1 rows pass through
  *    v1→v2 then v2→v3 — so shipping generation N+1 means writing ONE
  *    migration, never N retrofits, and every historical event lands
  *    on the current schema (the event-sourcing upcaster pattern).
  *  - dead-letter routing (x250): rows that fail validation get a
  *    `dlq_reason` (FIRST failing rule, so a row has one deterministic
  *    verdict) instead of killing the job or silently vanishing — the
  *    quarantine table is replayable evidence, and the clean stream
  *    proceeds. One scan, map-only.
  *
  * Both are pure column transforms (no shuffle, no state); the cards
  * aggregate one hash-agg each.
  */
object Extensions109 {

  // ---- x249: payload upcasting ---------------------------------------------------

  /** Apply a stepwise migration chain to a JSON payload column: each
    * `(guard, rewrite)` runs IN ORDER over the accumulating column —
    * `rewrite` fires where `guard` holds, rows already past that
    * generation pass through. Because steps compose, a v1 payload
    * flows v1→v2→…→latest with each migration written once.
    */
  def upcastJson(df: DataFrame, jsonCol: String,
      migrations: Seq[(Column => Column, Column => Column)]): DataFrame =
    df.withColumn(jsonCol, migrations.foldLeft(col(jsonCol)) {
      case (acc, (guard, rewrite)) => when(guard(acc), rewrite(acc)).otherwise(acc)
    })

  /** x249: the migration card. The fixture log is single-generation, so
    * the query first REWRITES props into three planted generations
    * (event_id mod 3: v1 `{"k":N}`, v2 `{"val":N}`, v3
    * `{"val":N,"unit":"u"}`), then upcasts v1→v2→v3 stepwise and
    * certifies: per event_type, rows per source generation and — the
    * invariant that matters — every row reading the v3 schema after
    * upcast, with the value sum preserved through the chain.
    */
  def x249UpcastCard(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .withColumn("gen", pmod(col("event_id"), lit(3L)))
      .withColumn("props",
        when(col("gen") === 0L, col("props"))
          .when(col("gen") === 1L,
            concat(lit("""{"val": """), get_json_object(col("props"), "$.k"),
              lit("}")))
          .otherwise(
            concat(lit("""{"val": """), get_json_object(col("props"), "$.k"),
              lit(""", "unit": "u"}"""))))
    val up = upcastJson(ev, "props", Seq(
      // v1 -> v2: rename k to val
      ((c: Column) => get_json_object(c, "$.k").isNotNull,
        (c: Column) => concat(lit("""{"val": """),
          get_json_object(c, "$.k"), lit("}"))),
      // v2 -> v3: add the unit field
      ((c: Column) => get_json_object(c, "$.unit").isNull,
        (c: Column) => concat(lit("""{"val": """),
          get_json_object(c, "$.val"), lit(""", "unit": "u"}""")))))
    up.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("gen") === 0L, 1L).otherwise(0L)).as("n_v1"),
        sum(when(col("gen") === 1L, 1L).otherwise(0L)).as("n_v2"),
        sum(when(col("gen") === 2L, 1L).otherwise(0L)).as("n_v3"),
        sum(when(get_json_object(col("props"), "$.unit") === "u" &&
          get_json_object(col("props"), "$.val").isNotNull, 1L).otherwise(0L))
          .as("n_on_latest"),
        sum(get_json_object(col("props"), "$.val").cast("long")).as("sum_val"))
  }

  private val x249OracleSql: String = """
      WITH g AS (
        SELECT event_type, event_id % 3 AS gen,
               CASE WHEN event_id % 3 = 0 THEN props
                    WHEN event_id % 3 = 1 THEN
                      '{"val": ' || json_extract_string(props, '$.k') || '}'
                    ELSE '{"val": ' || json_extract_string(props, '$.k')
                         || ', "unit": "u"}' END AS props
        FROM events),
      s1 AS (
        SELECT event_type, gen,
               CASE WHEN json_extract_string(props, '$.k') IS NOT NULL THEN
                 '{"val": ' || json_extract_string(props, '$.k') || '}'
               ELSE props END AS props
        FROM g),
      s2 AS (
        SELECT event_type, gen,
               CASE WHEN json_extract_string(props, '$.unit') IS NULL THEN
                 '{"val": ' || json_extract_string(props, '$.val')
                 || ', "unit": "u"}'
               ELSE props END AS props
        FROM s1)
      SELECT event_type, count(*) AS n_events,
             CAST(sum(CASE WHEN gen = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
             CAST(sum(CASE WHEN gen = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_v2,
             CAST(sum(CASE WHEN gen = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_v3,
             CAST(sum(CASE WHEN json_extract_string(props, '$.unit') = 'u'
               AND json_extract_string(props, '$.val') IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_on_latest,
             CAST(sum(CAST(json_extract_string(props, '$.val') AS BIGINT))
               AS BIGINT) AS sum_val
      FROM s2 GROUP BY event_type ORDER BY event_type"""

  // ---- x250: dead-letter routing -------------------------------------------------

  /** Tag each row with the FIRST failing validation rule (null = clean):
    * `rules` are (reason, predicate-that-must-HOLD) pairs. The caller
    * splits on `dlq_reason IS NULL` — quarantine keeps the evidence,
    * the clean stream proceeds, and nothing dies or vanishes.
    */
  def routeDeadLetters(df: DataFrame,
      rules: Seq[(String, Column)]): DataFrame =
    df.withColumn("dlq_reason",
      rules.foldRight(lit(null).cast("string")) {
        case ((reason, mustHold), acc) => when(!mustHold, lit(reason)).otherwise(acc)
      })

  /** x250: the quarantine card over a log with planted corruption
    * (every 89th event's props truncated mid-JSON, every 97th value
    * negated): per reason (clean rows included as reason 'ok'), count
    * and value sum — the daily dead-letter report.
    */
  def x250DeadLetterCard(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .withColumn("props",
        when(pmod(col("event_id"), lit(89L)) === 0L,
          substring(col("props"), 1, 4)).otherwise(col("props")))
      .withColumn("value",
        when(pmod(col("event_id"), lit(97L)) === 0L, -col("value"))
          .otherwise(col("value")))
    val routed = routeDeadLetters(ev, Seq(
      "bad_json" -> get_json_object(col("props"), "$.k").isNotNull,
      "negative_value" -> (col("value") >= 0)))
    routed
      .groupBy(coalesce(col("dlq_reason"), lit("ok")).as("reason"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("value")), 2).as("sum_value"))
  }

  private val x250OracleSql: String = """
      WITH ev AS (
        SELECT event_id,
               CASE WHEN event_id % 89 = 0 THEN substr(props, 1, 4)
                    ELSE props END AS props,
               CASE WHEN event_id % 97 = 0 THEN -value ELSE value END AS value
        FROM events),
      routed AS (
        SELECT CASE
                 WHEN NOT json_valid(props)
                   OR json_extract_string(props, '$.k') IS NULL THEN 'bad_json'
                 WHEN value < 0 THEN 'negative_value'
                 ELSE 'ok' END AS reason,
               value
        FROM ev)
      SELECT reason, count(*) AS n_rows,
             round(sum(value), 2) AS sum_value
      FROM routed GROUP BY reason ORDER BY reason"""

  val entries: Seq[Entry] = Seq(
    Entry("x249_upcast_card", x249UpcastCard _, x249OracleSql),
    Entry("x250_dead_letter_card", x250DeadLetterCard _, x250OracleSql))
}
