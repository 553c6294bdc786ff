package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Twenty-fifth extension batch:
  *
  *  - timeline anomaly scoring (x91): each user's mean transition
  *    surprisal under the corpus Markov model (x87) — the unsupervised
  *    "which actors behave unlike the population" score for an event
  *    log (fraud/bot triage).
  *  - SCD2 history build (x92): the warehouse slowly-changing-dimension
  *    materialization — collapse each user's event stream to state-
  *    CHANGE rows with [valid_from, valid_to) intervals + current flag.
  *    The interval sibling of the latest-state fold (q32).
  *  - PSI drift report (x93): population stability index between two
  *    corpus snapshots over a numeric column — the standard "did the
  *    distribution move" gate between crawl releases (PSI < 0.1 stable,
  *    > 0.25 action).
  */
object Extensions25 {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- x91: timeline surprisal under the Markov model -------------------------

  /** Mean per-transition surprisal −ln p(to|from) of each user's timeline
    * under the population transition model. High = the user's behaviour
    * is improbable under the aggregate dynamics.
    *
    * Plan shape: the transition-pair table is materialized ONCE and feeds
    * both the model aggregation (≤ |types|² rows, broadcast back) and the
    * per-user scoring agg — without the checkpoint the user-key window
    * would run twice. One exchange for the lead window, one for the final
    * user agg; the model join is broadcast.
    */
  def timelineSurprisal(
      eventLog: DataFrame, userCol: String, typeCol: String, tsCol: String,
      ordCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(ordCol))
    // NB: the event-log param must not be named `log` here — it would
    // shadow functions.log and resolve log(col) to DataFrame.apply(String)
    val pairs = Extensions.materialized(eventLog
      .withColumn("to_type", lead(col(typeCol), 1).over(w))
      .filter(col("to_type").isNotNull)
      .select(col(userCol).as("user_id"), col(typeCol).as("from_type"), col("to_type")))
    val model = pairs.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p", col("n") /
        sum(col("n")).over(Window.partitionBy(col("from_type"))))
    pairs.join(broadcast(model), Seq("from_type", "to_type"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_transitions"),
        round(avg(-log(col("p"))), 4).as("surprisal"))
  }

  /** x91: [[timelineSurprisal]] over the events fixture. */
  def x91TimelineSurprisal(s: SparkSession, dir: String): DataFrame =
    timelineSurprisal(events(s, dir), "user_id", "event_type", "ts", "event_id")

  private val x91OracleSql: String = """
      WITH pairs AS (
        SELECT user_id, event_type AS from_type,
               lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        FROM events QUALIFY to_type IS NOT NULL),
      model AS (
        SELECT from_type, to_type, count(*) AS n,
               count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY from_type) AS p
        FROM pairs GROUP BY from_type, to_type)
      SELECT pairs.user_id, count(*) AS n_transitions,
             round(avg(-ln(model.p)), 4) AS surprisal
      FROM pairs JOIN model USING (from_type, to_type)
      GROUP BY pairs.user_id
      ORDER BY pairs.user_id"""

  // ---- x92: SCD2 state history -------------------------------------------------

  /** Slowly-changing-dimension type 2 build: keep only events where the
    * state CHANGES (vs the user's previous event), then close each kept
    * row's interval with the next change's timestamp. Output rows tile
    * each user's timeline: [valid_from, valid_to) with NULL valid_to +
    * is_current on the open row.
    *
    * Plan shape: two stacked windows on one user-key exchange (the
    * change-detection lag, then the interval-closing lead over the
    * filtered rows — filter preserves partitioning AND sort order, so no
    * second exchange or sort). The SCD2 merge at 100 TB is this plan per
    * ingest batch against the dimension's open rows.
    */
  def scd2History(
      log: DataFrame, keyCol: String, stateCol: String, tsCol: String,
      ordCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(ordCol))
    log
      .withColumn("prev_state", lag(col(stateCol), 1).over(w))
      .filter(col("prev_state").isNull || col("prev_state") =!= col(stateCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(col(keyCol).as("user_id"), col(stateCol).as("state"),
        col(tsCol).as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** x92: [[scd2History]] of event_type per user. */
  def x92Scd2History(s: SparkSession, dir: String): DataFrame =
    scd2History(events(s, dir), "user_id", "event_type", "ts", "event_id")

  private val x92OracleSql: String = """
      WITH marked AS (
        SELECT user_id, event_type AS state, ts, event_id,
               lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state
        FROM events
        QUALIFY prev_state IS NULL OR prev_state <> event_type)
      SELECT user_id, state, ts AS valid_from,
             lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      FROM marked
      ORDER BY user_id, valid_from"""

  // ---- x93: PSI distribution drift ---------------------------------------------

  /** Population stability index between `prev` and `next` over a numeric
    * column. Buckets are `prev`'s exact deciles (4dp-rounded bounds, x74
    * boundary semantics); per-bucket shares use add-half smoothing
    * ((c + 0.5) / (t + buckets/2)) so a bucket empty on one side
    * contributes a finite penalty; shares round to 4dp BEFORE the
    * contribution is computed, so both engines feed ln identical doubles.
    * PSI = Σ (share_prev − share_next) · ln(share_prev / share_next).
    *
    * Plan shape: one O(1)-row percentile agg on `prev`, broadcast;
    * map-side bucket assignment on both snapshots; two bucket-count aggs
    * (≤ buckets+1 rows); the PSI total is a window over those rows only.
    */
  def psiDrift(
      prev: DataFrame, next: DataFrame, valueCol: String,
      nBuckets: Int = 10): DataFrame = {
    val qs = array((1 until nBuckets).map(i => lit(i.toDouble / nBuckets)): _*)
    val bounds = prev.agg(
      transform(percentile(col(valueCol), qs), b => round(b, 4)).as("bs"))
    def bucketCounts(df: DataFrame, cName: String) = df
      .crossJoin(broadcast(bounds))
      .select(aggregate(col("bs"), lit(0L),
        (acc, b) => acc + when(col(valueCol) > b, 1L).otherwise(0L)).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as(cName))
    // smooth AFTER the bucket join so a bucket absent on one side gets the
    // c = 0 smoothed floor (not a raw 0.0 share, which would make the ln
    // blow up) — that finite floor is the point of add-half smoothing
    val joined = bucketCounts(prev, "c_prev")
      .join(bucketCounts(next, "c_next"), Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("c_prev", "c_next"))
    val all = Window.partitionBy()
    def share(c: String) = Extensions.round4o(
      (col(c) + 0.5) / (sum(col(c)).over(all) + nBuckets / 2.0))
    val shared = joined
      .select(col("bucket"), share("c_prev").as("share_prev"),
        share("c_next").as("share_next"))
    val contribution = (col("share_prev") - col("share_next")) *
      log(col("share_prev") / col("share_next"))
    shared
      .withColumn("contribution", round(contribution, 4))
      .withColumn("psi", round(sum(contribution).over(all), 4))
  }

  /** x93: [[psiDrift]] on n_chars between the full fixture corpus and a
    * simulated next release that drops id%3==0 and doubles the length
    * metadata of id%5==0 (length drift, x64's release convention).
    */
  def x93PsiDrift(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
    val next = base.filter(pmod(col("doc_id"), lit(3L)) =!= 0L)
      .withColumn("n_chars",
        when(pmod(col("doc_id"), lit(5L)) === 0L, col("n_chars") * 2L)
          .otherwise(col("n_chars")))
    psiDrift(base, next, "n_chars")
  }

  private val x93OracleSql: String = """
      WITH nxt AS (
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0 THEN n_chars * 2 ELSE n_chars END AS n_chars
        FROM documents WHERE doc_id % 3 <> 0),
      b AS (SELECT list_transform(
              quantile_cont(n_chars, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]),
              x -> round(x, 4)) AS bs
            FROM documents),
      pa AS (SELECT len(list_filter(b.bs, x -> d.n_chars > x)) AS bucket, count(*) AS c
             FROM documents d CROSS JOIN b GROUP BY 1),
      pb AS (SELECT len(list_filter(b.bs, x -> n.n_chars > x)) AS bucket, count(*) AS c
             FROM nxt n CROSS JOIN b GROUP BY 1),
      cj AS (SELECT COALESCE(pa.bucket, pb.bucket) AS bucket,
                    COALESCE(pa.c, 0) AS c_prev,
                    COALESCE(pb.c, 0) AS c_next
             FROM pa FULL OUTER JOIN pb ON pa.bucket = pb.bucket),
      j AS (SELECT bucket,
                   round((c_prev + 0.5) / (sum(c_prev) OVER () + 5.0) * 10000.0, 0) / 10000.0 AS share_prev,
                   round((c_next + 0.5) / (sum(c_next) OVER () + 5.0) * 10000.0, 0) / 10000.0 AS share_next
            FROM cj)
      SELECT bucket, share_prev, share_next,
             round((share_prev - share_next) * ln(share_prev / share_next), 4) AS contribution,
             round(sum((share_prev - share_next) * ln(share_prev / share_next)) OVER (), 4) AS psi
      FROM j
      ORDER BY bucket"""

  val entries: Seq[Entry] = Seq(
    Entry("x91_timeline_surprisal", x91TimelineSurprisal _, x91OracleSql),
    Entry("x92_scd2_history", x92Scd2History _, x92OracleSql),
    Entry("x93_psi_drift", x93PsiDrift _, x93OracleSql))
}
