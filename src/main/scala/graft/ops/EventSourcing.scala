package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables
import graft.state.Materialize

/** Event-sourcing queries over the driver `events` table — the scale
  * surrogate of the reference's Cassandra `EVENTS` log (FIXTURES.md B.1:
  * user_id→ID, event_type→NAME, event_id→VERSION, ts→DATE, props→DATA).
  *
  * The flagship is the reference's findAll (PlayerResourceIT.java:164-171)
  * re-expressed as one Spark query: current state of every aggregate.
  */
object EventSourcing {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** FLAGSHIP (SURVEY §7.2 P0): latest event per aggregate = the CQRS read
    * model. `max_by` hash-aggregate: map-side partial fold means the shuffle
    * carries one candidate state per (aggregate × input partition), not the
    * raw event stream — the property that keeps this viable on a 100 TB log.
    */
  def latestState(s: SparkSession, dir: String): DataFrame =
    Materialize.latestState(events(s, dir), "user_id", "event_id")

  /** Per-aggregate summary: the read-model companion stats. */
  def userStats(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        round(sum(col("value")), 2).as("total_value"),
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"))

  /** Gap-based sessionization (30-minute inactivity): the classic
    * lag + cumulative-sum formulation. One shuffle on user_id; the window
    * sort doubles as the session scan. Boundary rule matches Spark's
    * `session_window` (gap >= 30 min starts a new session) so the streaming
    * variant (stream/Windows.scala) agrees with this batch form.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    events(s, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull || unix_micros(col("ts")) - col("prev_us") >= gapUs, 1)
          .otherwise(0))
      .withColumn("session_idx",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("session_value"))
  }

  /** Event-type × day rollforward — the read model for dashboard-style
    * queries over the log.
    */
  def dailyTypeCounts(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))

  /** Batch form of the stream-stream interval join (click → purchase
    * attribution within 10 minutes). The equi component (user_id) drives the
    * join partitioning; the time bound is a post-join range filter, so
    * per-key pair volume — not n² — is the cost, exactly as in the streaming
    * formulation (stream/Materializer.intervalJoin).
    */
  def intervalJoinBatch(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    clicks.join(purchases, Seq("user_id"))
      .filter(unix_micros(col("purchase_ts")) >= unix_micros(col("click_ts")) &&
        unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")) <= 600L * 1000000)
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  val entries: Seq[Entry] = Seq(
    Entry("q50_interval_join", intervalJoinBatch _, """
      SELECT c.user_id AS user_id, c.event_id AS click_id, p.event_id AS purchase_id
      FROM (SELECT user_id, event_id, ts FROM events WHERE event_type = 'click') c
      JOIN (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
       AND epoch_us(p.ts) >= epoch_us(c.ts)
       AND epoch_us(p.ts) - epoch_us(c.ts) <= 600000000
      ORDER BY 1, 2, 3"""),
    Entry("q32_latest_state", latestState _, """
      SELECT event_id, ts, user_id, event_type, value, props
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
            FROM events) sub
      WHERE rn = 1
      ORDER BY user_id"""),
    Entry("q33_user_stats", userStats _, """
      SELECT user_id, count(*) AS n_events,
             count(DISTINCT event_type) AS n_types,
             round(sum(value), 2) AS total_value,
             min(ts) AS first_ts, max(ts) AS last_ts
      FROM events
      GROUP BY user_id
      ORDER BY user_id"""),
    Entry("q34_sessionize", sessionize _, """
      WITH g AS (
        SELECT user_id, ts, event_id, value,
               epoch_us(ts) - lag(epoch_us(ts), 1)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events),
      marked AS (
        SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END AS new_session
        FROM g),
      numbered AS (
        SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        FROM marked)
      SELECT user_id, session_idx,
             min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events, round(sum(value), 2) AS session_value
      FROM numbered
      GROUP BY user_id, session_idx
      ORDER BY user_id, session_idx"""),
    Entry("q35_daily_type_counts", dailyTypeCounts _, """
      SELECT date_trunc('day', ts) AS day, event_type,
             count(*) AS n, round(sum(value), 2) AS total_value
      FROM events
      GROUP BY 1, 2
      ORDER BY day, event_type"""))
}
