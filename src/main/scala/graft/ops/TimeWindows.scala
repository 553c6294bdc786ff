package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Event-time window operators (SURVEY §2.8 ST5) in their batch form —
  * `window`/`session_window` are the same Catalyst operators Structured
  * Streaming plans, so these queries pin the exact semantics the streaming
  * materializer (graft.stream.Materializer) must reproduce, while staying
  * DuckDB-oracle-checkable. The streaming path itself (watermarks, state
  * eviction) is exercised in StreamingSpec.
  */
object TimeWindows {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** Tumbling 6-hour windows per event type. Spark aligns window starts to
    * the epoch, which is exactly the floor-division arithmetic in the
    * oracle.
    */
  def q36Tumbling(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total_value"))

  /** Sliding windows: 1 hour long, every 30 minutes — each event lands in
    * exactly 2 windows; starts are multiples of the slide.
    */
  def q37Sliding(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("window_start"), col("n"), col("total_value"))

  /** Session windows (30-minute inactivity gap) per user — the built-in
    * operator counterpart of EventSourcing.sessionize's manual lag+cumsum
    * formulation; `window.end` is last-event + gap by definition.
    */
  def q38SessionWindow(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n"), col("total_value"))

  val entries: Seq[Entry] = Seq(
    Entry("q36_tumbling_window", q36Tumbling _, """
      SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS window_start,
             event_type, count(*) AS n, round(sum(value), 2) AS total_value
      FROM events
      GROUP BY 1, 2
      ORDER BY window_start, event_type"""),
    Entry("q37_sliding_window", q37Sliding _, """
      WITH exploded AS (
        SELECT make_timestamp(((epoch_us(ts) // 1800000000) - k) * 1800000000) AS window_start,
               value
        FROM events, UNNEST([0, 1]) AS u(k))
      SELECT window_start, count(*) AS n, round(sum(value), 2) AS total_value
      FROM exploded
      GROUP BY 1
      ORDER BY window_start"""),
    Entry("q38_session_window", q38SessionWindow _, """
      WITH g AS (
        SELECT user_id, ts, value,
               epoch_us(ts) - lag(epoch_us(ts), 1)
                 OVER (PARTITION BY user_id ORDER BY ts) AS gap_us
        FROM events),
      marked AS (
        SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END AS new_session
        FROM g),
      numbered AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked)
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS n, round(sum(value), 2) AS total_value
      FROM numbered
      GROUP BY user_id, sid
      ORDER BY user_id, session_start"""))
}
