package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables
import graft.state.Materialize

/** One-hundred-seventh extension batch — the event log as a system of
  * record: reads at a point in time, erasure with a certificate, and
  * the watermark decision measured before it's configured:
  *
  *  - as-of read (x244): [[Materialize.asOfState]] driven at a bound
  *    derived from the log itself — the audit question "what did every
  *    aggregate look like when version V committed", answered by the
  *    same one-shuffle fold as the live read model.
  *  - erasure certificate (x245): the counting side of
  *    [[graft.log.EventLog.forget]] — per event type, how many events
  *    the erasure of an id set removes and how many remain. The
  *    certificate is what an auditor gets; the rewrite is what the
  *    store does.
  *  - watermark planner (x246): per candidate watermark delay, how many
  *    events arrive later than the stream's high-watermark minus that
  *    delay — i.e. how many a streaming aggregation WOULD DROP. Arrival
  *    order is modeled as micro-batches over an arrival column; the
  *    high-watermark rides an aggregated batch grid (window over
  *    O(batches) rows, never the event table).
  *
  * Scale shapes: x244 is latestState behind a pushed predicate; x245 is
  * two hash-aggs of one scan; x246 is one batch-grid agg + a broadcast
  * join back + a spine fan-out of per-event lateness into the bounds
  * grid.
  */
object Extensions107 {

  // ---- x244: as-of read ------------------------------------------------------------

  /** x244: every user's state when HALF the log had committed
    * (bound = max(event_id) DIV 2, derived in-plan so the query scales
    * with the dataset it reads).
    */
  def x244AsOfState(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val bound = ev.agg((max(col("event_id")).cast("long") / lit(2L))
      .cast("long").as("__bound"))
    val atBound = Materialize.asOfState(
      ev.crossJoin(broadcast(bound)), "user_id", "event_id", col("__bound"))
    atBound.select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type"), round(col("value"), 2).as("value"))
  }

  private val x244OracleSql: String = """
      WITH b AS (SELECT CAST(max(event_id) AS BIGINT) // 2 AS bound FROM events),
      r AS (SELECT user_id, event_id, event_type, value,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY event_id DESC) AS rn
            FROM events, b WHERE event_id <= b.bound)
      SELECT user_id, event_id AS last_event_id, event_type,
             round(value, 2) AS value
      FROM r WHERE rn = 1 ORDER BY user_id"""

  // ---- x245: erasure certificate ----------------------------------------------------

  /** Per event type: events before, dropped by erasing `forgetPred`
    * aggregates, and remaining — the auditor's view of
    * [[graft.log.EventLog.forget]]. One scan, two hash-aggs.
    */
  def erasureCertificate(
      events: DataFrame, forgetPred: org.apache.spark.sql.Column): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_before"),
        sum(when(forgetPred, 1L).otherwise(0L)).as("n_dropped"))
      .select(col("event_type"), col("n_before"), col("n_dropped"),
        (col("n_before") - col("n_dropped")).as("n_after"))

  /** x245: erase every 97th user; certify what leaves the log. */
  def x245ErasureCertificate(s: SparkSession, dir: String): DataFrame =
    erasureCertificate(Tables.load(s, dir, "events"),
      pmod(col("user_id"), lit(97L)) === 0L)

  private val x245OracleSql: String = """
      SELECT event_type, count(*) AS n_before,
             CAST(sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
             count(*) - CAST(sum(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_after
      FROM events GROUP BY event_type ORDER BY event_type"""

  // ---- x246: watermark planner -------------------------------------------------------

  /** Per candidate watermark delay (minutes): events whose event time
    * trails the high-watermark at their ARRIVAL batch by more than the
    * delay — exactly the rows `withWatermark(delay)` would drop. The
    * high-watermark is the running max event time over PRIOR batches,
    * computed on the O(batches) grid and broadcast back; batch 0 and
    * in-order events read lateness 0.
    */
  def watermarkPlan(
      events: DataFrame, arrivalCol: String, tsCol: String,
      batchSize: Long, boundsMinutes: Seq[Long]): DataFrame = {
    require(batchSize >= 1 && boundsMinutes.nonEmpty)
    val spark = events.sparkSession
    import spark.implicits._
    val ev = events.select(
      (col(arrivalCol).cast("long") / lit(batchSize)).cast("long").as("batch"),
      unix_micros(col(tsCol)).as("ts_us"))
    val grid = ev.groupBy(col("batch")).agg(max(col("ts_us")).as("mx"))
    val w = Window.orderBy(col("batch"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val hwm = grid.select(col("batch"), max(col("mx")).over(w).as("hwm"))
    val late = ev.join(broadcast(hwm), Seq("batch"))
      .select(greatest(coalesce(col("hwm") - col("ts_us"), lit(0L)), lit(0L))
        .as("late_us"))
    val spine = boundsMinutes.sorted.toDF("bound_minutes")
    val total = late.count()
    late.crossJoin(broadcast(spine))
      .groupBy(col("bound_minutes"))
      .agg(sum(when(col("late_us") > col("bound_minutes") * 60000000L, 1L)
        .otherwise(0L)).as("n_dropped"))
      .select(col("bound_minutes"), col("n_dropped"),
        expr(s"((n_dropped * 10000 * 2 + $total) DIV (2 * $total)) / 10000.0D")
          .as("drop_share"))
  }

  /** x246: the fixture log is in-order by construction, so the card
    * plants disorder deterministically — every 97th event arrives 1500
    * positions (3 batches) late — and prices watermark delays against
    * it.
    */
  def x246WatermarkPlan(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
      .withColumn("arrival",
        col("event_id") + when(pmod(col("event_id"), lit(97L)) === 0L, 1500L)
          .otherwise(0L))
    watermarkPlan(ev, "arrival", "ts", batchSize = 500L,
      boundsMinutes = Seq(0L, 240L, 1440L, 4320L, 10080L))
  }

  private val x246OracleSql: String = """
      WITH ev AS (
        SELECT (event_id + CASE WHEN event_id % 97 = 0 THEN 1500 ELSE 0 END)
                 // 500 AS batch,
               epoch_us(ts) AS ts_us
        FROM events),
      grid AS (SELECT batch, max(ts_us) AS mx FROM ev GROUP BY batch),
      hwm AS (SELECT batch, max(mx) OVER (ORDER BY batch
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
              FROM grid),
      late AS (SELECT greatest(coalesce(h.hwm - ev.ts_us, 0), 0) AS late_us
               FROM ev JOIN hwm h ON h.batch = ev.batch),
      tot AS (SELECT count(*) AS n FROM late),
      spine AS (SELECT CAST(bound_minutes AS BIGINT) AS bound_minutes
                FROM (VALUES (0), (240), (1440), (4320), (10080))
                AS t(bound_minutes))
      SELECT bound_minutes,
             CAST(sum(CASE WHEN late_us > bound_minutes * 60000000 THEN 1
                           ELSE 0 END) AS BIGINT) AS n_dropped,
             ((CAST(sum(CASE WHEN late_us > bound_minutes * 60000000 THEN 1
                             ELSE 0 END) AS BIGINT) * 10000 * 2 + tot.n)
               // (2 * tot.n)) / 10000.0 AS drop_share
      FROM late CROSS JOIN spine CROSS JOIN tot
      GROUP BY bound_minutes, tot.n
      ORDER BY bound_minutes"""

  val entries: Seq[Entry] = Seq(
    Entry("x244_asof_state", x244AsOfState _, x244OracleSql),
    Entry("x245_erasure_certificate", x245ErasureCertificate _, x245OracleSql),
    Entry("x246_watermark_plan", x246WatermarkPlan _, x246OracleSql))
}
