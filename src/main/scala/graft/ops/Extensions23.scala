package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Twenty-third extension batch — product-analytics shapes over the
  * event log. The reference's read side answers "current state"
  * (PlayerResourceIT.java:164-171); a production event store is also
  * asked "how do users move THROUGH the states". These are the three
  * canonical forms of that question:
  *
  *  - ordered funnel (x85): strict-sequence conversion (view → click →
  *    purchase, each step within a bounded window of the previous) —
  *    unlike q50's single-hop attribution join, the funnel is ordered
  *    and windowed per step.
  *  - cohort retention (x86): the day-0 cohort triangle — first
  *    conversion day × activity-day offset.
  *  - Markov transitions (x87): the event-type transition matrix, the
  *    one-step behavioural model over user timelines.
  */
object Extensions23 {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  // ---- x85: ordered windowed funnel ------------------------------------------

  /** The per-row greedy-anchor fold shared by [[orderedFunnel]] and
    * x155's step-timing: t_{i+1} = min ts of step i+1 after t_i within
    * the window, as window columns on every row.
    */
  private[ops] def funnelAnchorFold(
      log: DataFrame, userCol: String, typeCol: String, tsCol: String,
      steps: Seq[String], stepWindowUs: Long): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val w = Window.partitionBy(col(userCol))
    steps.zipWithIndex.foldLeft(log) { case (df, (step, i)) =>
      val eligible =
        if (i == 0) col(typeCol) === step
        else col(typeCol) === step && col(tsCol) > col(s"t$i") &&
          unix_micros(col(tsCol)) - unix_micros(col(s"t$i")) <= stepWindowUs
      df.withColumn(s"t${i + 1}", min(when(eligible, col(tsCol))).over(w))
    }
  }

  /** Strict-sequence funnel: step k counts only if it happens strictly
    * after step k-1 and within `stepWindowUs` of it, with each step
    * GREEDILY anchored on the user's earliest eligible occurrence
    * (min-of-eligible per step, computed left to right).
    *
    * Greedy-anchor semantics, explicitly: the chain commits to the
    * earliest step-k before looking at step k+1. A user whose earliest
    * step-1 lapses (no step-2 inside its window) but who has a LATER
    * step-1 that would complete the funnel is counted at the depth the
    * earliest anchor reaches — an undercount versus any-achievable-chain
    * (backtracking) semantics, which needs per-event chain state rather
    * than k stacked windows. This greedy definition is what the oracle
    * replays; both engines agree on it.
    *
    * Plan shape: one Exchange on the user key, then one chained
    * conditional-min Window per step over the SAME partitioning — Spark
    * stacks the Window operators without re-shuffling, so a k-step
    * funnel is one shuffle + k windowed passes, never k scans of the
    * log. The final per-user agg rides the same partitioning.
    * At 100 TB this beats the textbook k-self-join formulation (k
    * shuffles of the full log) by construction.
    */
  def orderedFunnel(
      log: DataFrame, userCol: String, typeCol: String, tsCol: String,
      steps: Seq[String], stepWindowUs: Long): DataFrame = {
    val withTs = funnelAnchorFold(log, userCol, typeCol, tsCol, steps,
      stepWindowUs)
    // Fold ascending so the LAST step's check lands outermost: the final
    // expression reads when(t_k, k).otherwise(... when(t_1, 1).otherwise(0)).
    val completed = steps.indices.foldLeft(lit(0L): Column) {
      case (acc, i) => when(col(s"t${i + 1}").isNotNull, lit(i + 1L)).otherwise(acc)
    }
    withTs
      .groupBy(col(userCol).as("user_id"))
      .agg(max(completed).as("steps_completed"))
  }

  /** x85: [[orderedFunnel]] view → click → purchase, 24 h per step. */
  def x85Funnel(s: SparkSession, dir: String): DataFrame =
    orderedFunnel(events(s, dir), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"), stepWindowUs = 24L * 3600 * 1000000)

  private val x85OracleSql: String = """
      WITH w1 AS (
        SELECT user_id, ts, event_type,
               min(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id) AS t1
        FROM events),
      w2 AS (
        SELECT *, min(CASE WHEN event_type = 'click' AND ts > t1
                            AND epoch_us(ts) - epoch_us(t1) <= 86400000000 THEN ts END)
                    OVER (PARTITION BY user_id) AS t2
        FROM w1),
      w3 AS (
        SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t2
                            AND epoch_us(ts) - epoch_us(t2) <= 86400000000 THEN ts END)
                    OVER (PARTITION BY user_id) AS t3
        FROM w2)
      SELECT user_id,
             max(CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2
                      WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS steps_completed
      FROM w3
      GROUP BY user_id
      ORDER BY user_id"""

  // ---- x86: cohort retention -------------------------------------------------

  /** Daily cohort retention over `convType` events: cohort = a user's
    * first conversion day; one output row per (cohort day, offset in
    * days) with the distinct users from that cohort active at that
    * offset. The classic retention triangle, day granularity (the
    * fixture's log spans 30 days — week cohorts would be degenerate).
    *
    * Plan shape: two aggs on the user key (first-day, distinct active
    * days) — co-partitioned, so the join between them is exchange-free
    * under AQE — then one small agg on (cohort, offset). Never a
    * window over the raw log.
    */
  def cohortRetention(
      log: DataFrame, userCol: String, typeCol: String, tsCol: String,
      convType: String): DataFrame = {
    val conv = log.filter(col(typeCol) === convType)
      .select(col(userCol).as("user_id"),
        date_trunc("day", col(tsCol)).cast("date").as("d"))
    val first = conv.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
    conv.distinct()
      .join(first, Seq("user_id"))
      .groupBy(col("cohort_day"),
        datediff(col("d"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count_distinct(col("user_id")).as("n_users"))
  }

  /** x86: [[cohortRetention]] on purchase events. */
  def x86CohortRetention(s: SparkSession, dir: String): DataFrame =
    cohortRetention(events(s, dir), "user_id", "event_type", "ts", "purchase")

  private val x86OracleSql: String = """
      WITH conv AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events WHERE event_type = 'purchase'),
      f AS (SELECT user_id, min(d) AS cohort_day FROM conv GROUP BY user_id)
      SELECT f.cohort_day,
             date_diff('day', f.cohort_day, conv.d) AS day_offset,
             count(DISTINCT conv.user_id) AS n_users
      FROM conv JOIN f USING (user_id)
      GROUP BY 1, 2
      ORDER BY cohort_day, day_offset"""

  // ---- x87: Markov transition matrix -----------------------------------------

  /** Event-type transition matrix: for consecutive events on each user's
    * timeline, count (from, to) pairs and the row-normalized transition
    * probability. The one-step behavioural model — also the input for
    * anomaly scoring (improbable transitions) and next-event prediction.
    *
    * Plan shape: one Exchange on the user key for the `lead` window,
    * then a hash-agg down to at most |types|² rows; the normalizing
    * window runs over that aggregated table only.
    */
  def markovTransitions(
      log: DataFrame, userCol: String, typeCol: String, tsCol: String,
      ordCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(ordCol))
    val counts = log
      .withColumn("to_type", lead(col(typeCol), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    counts.withColumn("p",
      Extensions.round4o(col("n") / sum(col("n")).over(Window.partitionBy(col("from_type")))))
  }

  /** x87: [[markovTransitions]] over the events fixture. */
  def x87MarkovTransitions(s: SparkSession, dir: String): DataFrame =
    markovTransitions(events(s, dir), "user_id", "event_type", "ts", "event_id")

  private val x87OracleSql: String = """
      WITH p AS (
        SELECT event_type AS from_type,
               lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        FROM events),
      c AS (SELECT from_type, to_type, count(*) AS n
            FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2)
      SELECT from_type, to_type, n,
             round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 4) AS p
      FROM c
      ORDER BY from_type, to_type"""

  val entries: Seq[Entry] = Seq(
    Entry("x85_ordered_funnel", x85Funnel _, x85OracleSql),
    Entry("x86_cohort_retention", x86CohortRetention _, x86OracleSql),
    Entry("x87_markov_transitions", x87MarkovTransitions _, x87OracleSql))
}
