package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Twenty-fourth extension batch:
  *
  *  - RFM segmentation (x88): recency / frequency / monetary tercile
  *    scores per customer — the standard behavioural segmentation over
  *    a purchase log, with the scale-safe exact-percentile scoring used
  *    by x52/x74 (broadcast bounds, never a global ntile sort).
  *  - deletion-neighborhood similarity join (x89): all name pairs
  *    within edit distance 1, FastSS-style (Bocek et al. 2007) — the
  *    entity-resolution / record-linkage primitive Spark has no
  *    operator for.
  *  - top session paths (x90): most frequent within-session event-type
  *    sequences — the "what do sessions look like" report on q34's
  *    session machinery.
  */
object Extensions24 {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  // ---- x88: RFM segmentation -------------------------------------------------

  /** Recency/frequency/monetary segmentation over `convType` events.
    * Per user: days since last conversion (relative to the log's last
    * conversion day), conversion count, and summed value; each metric
    * is scored 1-3 by exact corpus terciles (recency inverted: recent =
    * 3). Boundary semantics match x74: a value strictly above a bound
    * is in the next bucket; bounds round to 4dp (cross-engine percentile
    * parity).
    *
    * Plan shape: one filtered agg on the user key, one O(1)-row
    * percentile agg broadcast back, map-side scoring — never a global
    * sort (the ntile formulation dies at 10⁹ users; broadcast bounds
    * don't).
    */
  def rfmSegments(
      log: DataFrame, userCol: String, typeCol: String, tsCol: String,
      valueCol: String, convType: String): DataFrame = {
    val conv = log.filter(col(typeCol) === convType)
    val asof = conv.agg(max(col(tsCol)).cast("date").as("asof_day"))
    val rfm = conv
      .groupBy(col(userCol).as("user_id"))
      .agg(
        max(col(tsCol)).cast("date").as("last_day"),
        count(lit(1)).as("frequency"),
        round(sum(col(valueCol)), 2).as("monetary"))
      .crossJoin(broadcast(asof))
      .select(col("user_id"),
        datediff(col("asof_day"), col("last_day")).cast("long").as("recency_days"),
        col("frequency"), col("monetary"))
    val thirds = array(lit(1.0 / 3.0), lit(2.0 / 3.0))
    val bounds = rfm.agg(
      transform(percentile(col("recency_days"), thirds), b => round(b, 4)).as("rb"),
      transform(percentile(col("frequency"), thirds), b => round(b, 4)).as("fb"),
      transform(percentile(col("monetary"), thirds), b => round(b, 4)).as("mb"))
    def above(v: String, bs: String) = aggregate(col(bs), lit(0L),
      (acc, b) => acc + when(col(v) > b, 1L).otherwise(0L))
    rfm.crossJoin(broadcast(bounds))
      .select(col("user_id"), col("recency_days"), col("frequency"), col("monetary"),
        (lit(3L) - above("recency_days", "rb")).as("r_score"),
        (lit(1L) + above("frequency", "fb")).as("f_score"),
        (lit(1L) + above("monetary", "mb")).as("m_score"))
      .withColumn("segment", concat(col("r_score").cast("string"),
        col("f_score").cast("string"), col("m_score").cast("string")))
  }

  /** x88: [[rfmSegments]] on purchase events. */
  def x88RfmSegments(s: SparkSession, dir: String): DataFrame =
    rfmSegments(events(s, dir), "user_id", "event_type", "ts", "value", "purchase")

  private val x88OracleSql: String = """
      WITH p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'),
      a AS (SELECT CAST(max(ts) AS DATE) AS asof_day FROM p),
      rfm AS (
        SELECT user_id,
               date_diff('day', CAST(max(ts) AS DATE), (SELECT asof_day FROM a)) AS recency_days,
               count(*) AS frequency,
               round(sum(value), 2) AS monetary
        FROM p GROUP BY user_id),
      b AS (SELECT
              list_transform(quantile_cont(recency_days, [0.3333333333333333, 0.6666666666666666]), x -> round(x, 4)) AS rb,
              list_transform(quantile_cont(frequency, [0.3333333333333333, 0.6666666666666666]), x -> round(x, 4)) AS fb,
              list_transform(quantile_cont(monetary, [0.3333333333333333, 0.6666666666666666]), x -> round(x, 4)) AS mb
            FROM rfm)
      SELECT user_id, recency_days, frequency, monetary,
             (3 - len(list_filter(b.rb, x -> rfm.recency_days > x)))::BIGINT AS r_score,
             (1 + len(list_filter(b.fb, x -> rfm.frequency > x)))::BIGINT AS f_score,
             (1 + len(list_filter(b.mb, x -> rfm.monetary > x)))::BIGINT AS m_score,
             concat(3 - len(list_filter(b.rb, x -> rfm.recency_days > x)),
                    1 + len(list_filter(b.fb, x -> rfm.frequency > x)),
                    1 + len(list_filter(b.mb, x -> rfm.monetary > x))) AS segment
      FROM rfm CROSS JOIN b
      ORDER BY user_id"""

  // ---- x89: deletion-neighborhood similarity join (FastSS) -------------------

  /** All distinct string pairs within edit distance 1, via deletion
    * neighborhoods (FastSS, Bocek et al. 2007): each string is indexed
    * under itself plus every single-character deletion; two strings are
    * within edit distance 1 iff their key sets intersect (substitution →
    * shared deletion; insert/delete → one side's deletion equals the
    * other; equality → shared identity key). The equi-join on keys
    * yields EXACTLY the candidate pairs — the levenshtein check then
    * only rejects the rare same-key-different-edit artifacts, so
    * candidate volume tracks output volume, not N².
    *
    * Plan shape: O(N·L) index rows, shuffled equi-join on the key,
    * distinct on pairs, per-pair verify. The brute-force form is an N²
    * cross join with levenshtein on every pair — this is the
    * similarity-join blocking that makes entity resolution feasible at
    * 10⁹ rows. Depth-τ deletion neighborhoods generalize to edit
    * distance τ; depth 1 is what record-linkage blocking needs.
    *
    * The join key is xxhash64 of the (L−1)-char neighborhood string — 8
    * bytes through the exchange instead of the string (x02's "8-byte
    * keys, never text" discipline). Measured at sf0.1 (ShuffleProbe,
    * PLANS.md round 6): the keyed exchange drops 3546→3247 KiB (−8.4%
    * compressed; the short, prefix-sharing fixture names compress well —
    * longer real-world strings widen the gap), and the SMJ compares
    * 8-byte longs instead of variable-length strings. A hash collision
    * can only ADD a spurious candidate, which the levenshtein verify
    * rejects — true pairs always share a key because equal strings hash
    * equal, so the result is exact regardless.
    */
  def editDistance1Pairs(rel: DataFrame, strCol: String): DataFrame =
    // r14: BOUNDED levenshtein. The unbounded form fills the full L×L
    // matrix (~4–5 µs per ~18-char pair — measured 4.7 s over the 956k
    // fixture candidates); the threshold form is O(k·L) and returns the
    // true distance when ≤ k, else −1 — so `dist = 1` keeps exactly the
    // rows `dist <= 1` kept (candidates are DISTINCT strings with
    // name_a < name_b, so dist ≥ 1 always; the −1 overflow rows are the
    // old > 1 rejects). Same verify, ~20× cheaper per pair — it also
    // makes the optimizer's pushing of the verify into the key join a
    // non-event. A barrier (localCheckpoint of the 956k candidates) was
    // measured SLOWER than recomputing them (11.3 s vs 2.8 s) and was
    // rejected.
    deletion1Candidates(rel, strCol)
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
      .filter(col("dist") === 1L)

  /** The FastSS candidate stage alone — (name_a, name_b), name_a <
    * name_b, distinct string pairs sharing a deletion-1 neighborhood
    * key. Exposed so the blocking-family planner (x270) can price this
    * family's candidate volume against the other blockers.
    */
  private[graft] def deletion1Candidates(rel: DataFrame, strCol: String): DataFrame = {
    val base = rel.select(col(strCol).as("s"))
      .filter(col("s").isNotNull).distinct()
    val keyed = base.select(col("s"), explode(array_union(
      array(col("s")),
      transform(sequence(lit(1), length(col("s"))), i =>
        concat(col("s").substr(lit(1), i - 1),
          col("s").substr(i + 1, length(col("s")) - i))))).as("kstr"))
      .select(col("s"), xxhash64(col("kstr")).as("k"))
    keyed.select(col("s").as("name_a"), col("k"))
      .join(keyed.select(col("s").as("name_b"), col("k")), Seq("k"))
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"))
      .distinct()
  }

  /** x89: [[editDistance1Pairs]] over customer names (the record-linkage
    * fixture: zero-padded ids make single-digit-substitution pairs).
    */
  def x89EditDistanceJoin(s: SparkSession, dir: String): DataFrame =
    editDistance1Pairs(Tables.load(s, dir, "customer"), "c_name")

  // Oracle is the brute-force N² form — the semantic ground truth the
  // blocked join must reproduce exactly.
  private val x89OracleSql: String = """
      SELECT c.c_name AS name_a, d.c_name AS name_b,
             levenshtein(c.c_name, d.c_name)::BIGINT AS dist
      FROM customer c JOIN customer d ON c.c_name < d.c_name
      WHERE levenshtein(c.c_name, d.c_name) <= 1
      ORDER BY name_a, name_b"""

  // ---- x90: top session paths ------------------------------------------------

  /** Most frequent within-session event-type sequences: sessions are
    * gap-delimited (q34's boundary rule), each session's path is its
    * time-ordered type sequence joined with "->", and the top `k` paths
    * by session count are reported.
    *
    * Plan shape: one Exchange on the user key (window), per-session
    * collect bounded by session length (gap-delimited — never a whole
    * user timeline), hash-agg on the path string, TakeOrderedAndProject
    * for the top k. The per-session sort is `array_sort` on (ts, ord)
    * structs — deterministic regardless of collect order.
    */
  def topSessionPaths(
      log: DataFrame, userCol: String, typeCol: String, tsCol: String,
      ordCol: String, gapUs: Long, k: Int): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(ordCol))
    log
      .withColumn("prev_us", lag(unix_micros(col(tsCol)), 1).over(w))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col(tsCol)) - col("prev_us") >= gapUs, 1).otherwise(0))
      .withColumn("session_idx",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(userCol), col("session_idx"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col(tsCol).as("ts"),
            col(ordCol).as("ord"), col(typeCol).as("t")))),
          x => x.getField("t")), "->").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
  }

  /** x90: [[topSessionPaths]], 6 h gap (30 min yields length-1 sessions
    * on this fixture), top 20.
    */
  def x90SessionPaths(s: SparkSession, dir: String): DataFrame =
    topSessionPaths(events(s, dir), "user_id", "event_type", "ts", "event_id",
      gapUs = 6L * 3600 * 1000000, k = 20)

  private val x90OracleSql: String = """
      WITH g AS (
        SELECT user_id, ts, event_id, event_type,
               epoch_us(ts) - lag(epoch_us(ts), 1)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events),
      marked AS (
        SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= 21600000000 THEN 1 ELSE 0 END AS new_session
        FROM g),
      numbered AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        FROM marked),
      s AS (
        SELECT user_id, session_idx,
               string_agg(event_type, '->' ORDER BY ts, event_id) AS path
        FROM numbered GROUP BY 1, 2)
      SELECT path, count(*) AS n_sessions
      FROM s GROUP BY path
      ORDER BY n_sessions DESC, path
      LIMIT 20"""

  val entries: Seq[Entry] = Seq(
    Entry("x88_rfm_segments", x88RfmSegments _, x88OracleSql),
    Entry("x89_edit_distance_join", x89EditDistanceJoin _, x89OracleSql),
    Entry("x90_session_paths", x90SessionPaths _, x90OracleSql))
}
