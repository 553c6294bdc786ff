package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Seventy-seventh extension batch — event-log forensics (the reference
  * semantics, audited):
  *
  *  - version gap audit (x186): per aggregate, missing and duplicated
  *    versions in the event log — the two integrity failures the
  *    reference's PK(ID,NAME,VERSION) upsert can hide (a dropped
  *    message leaves a gap; a re-sent one with a new name leaves a
  *    duplicate). The read model LOOKS fine either way; this audit is
  *    how you find out it isn't.
  *  - hot partition report (x187): per-aggregate event share with a
  *    k×-mean skew flag — the Cassandra/partition-key worry
  *    (reference `initial_db.sql`'s partition key = ID) made
  *    measurable: ONE aggregate absorbing half the log is a hot
  *    partition in any store, and the same key skews every
  *    id-partitioned join in this engine.
  *
  * Determinism discipline: both are exact counts; x187's flag
  * multiplies integers (share·n_ids vs k·total — never a float
  * threshold) and its top-k ties break on the id.
  */
object Extensions77 {

  // ---- x186: version gap audit -------------------------------------------------

  /** Per aggregate key: n_events, distinct versions, max version,
    * n_missing = (max − min + 1) − distinct (gaps in the dense range),
    * n_dup_versions = n_events − distinct, and a clean flag. Output
    * only keys with at least one defect unless `includeClean`.
    *
    * Scale: ONE (key) hash-agg carrying count / count_distinct /
    * min / max — no window, no per-version rows after the agg.
    */
  def versionGapAudit(
      log: DataFrame, keyCol: String, versionCol: String,
      includeClean: Boolean = false): DataFrame = {
    val per = log
      .select(col(keyCol).as("k"), col(versionCol).cast("long").as("v"))
      .groupBy(col("k")).agg(
        count(lit(1)).as("n_events"),
        count_distinct(col("v")).as("n_versions"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
      .withColumn("n_missing",
        col("max_v") - col("min_v") + 1L - col("n_versions"))
      .withColumn("n_dup_versions", col("n_events") - col("n_versions"))
      .withColumn("clean",
        col("n_missing") === 0L && col("n_dup_versions") === 0L)
    (if (includeClean) per else per.filter(!col("clean")))
      .select(col("k").as("key"), col("n_events"), col("n_versions"),
        col("min_v"), col("max_v"), col("n_missing"), col("n_dup_versions"),
        col("clean"))
  }

  /** x186: audit a deterministically-damaged version stream — per-user
    * versions from event order, with every 7th dropped (gaps) and
    * every 11th duplicated (redelivery with a new id) — the audit must
    * read the planted damage exactly.
    */
  def x186VersionAudit(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    val versioned = Tables.load(s, dir, "events")
      .select(col("user_id"), col("event_id"))
      .withColumn("v", row_number().over(w).cast("long"))
    val damaged = versioned.filter(pmod(col("v"), lit(7L)) =!= 0L)
      .unionAll(versioned.filter(pmod(col("v"), lit(11L)) === 0L))
    versionGapAudit(damaged, "user_id", "v")
  }

  private val x186OracleSql: String = """
      WITH ver AS (SELECT user_id,
                     CAST(row_number() OVER (PARTITION BY user_id
                       ORDER BY event_id) AS BIGINT) AS v
                   FROM events),
      dam AS (SELECT user_id, v FROM ver WHERE v % 7 <> 0
              UNION ALL SELECT user_id, v FROM ver WHERE v % 11 = 0),
      per AS (SELECT user_id AS k, count(*) AS n_events,
                count(DISTINCT v) AS n_versions,
                CAST(min(v) AS BIGINT) AS min_v, CAST(max(v) AS BIGINT) AS max_v
              FROM dam GROUP BY user_id),
      x AS (SELECT *, max_v - min_v + 1 - n_versions AS n_missing,
                   n_events - n_versions AS n_dup_versions
            FROM per)
      SELECT k AS key, n_events, n_versions, min_v, max_v,
             n_missing, n_dup_versions,
             n_missing = 0 AND n_dup_versions = 0 AS clean
      FROM x
      WHERE NOT (n_missing = 0 AND n_dup_versions = 0)
      ORDER BY key"""

  // ---- x187: hot partition report ----------------------------------------------

  /** Per-aggregate event shares with a skew flag: an id is HOT when
    * its count × n_ids > `hotFactor` × total (i.e. share >
    * hotFactor× the mean share) — integer comparison, no float
    * threshold. Output top-`topK` by (count desc, id):
    * (key, n_events, share, mean_share, hot).
    *
    * Scale: one key hash-agg; totals from a SECOND 1-row aggregation of
    * the key table, broadcast back via crossJoin — NOT a global window,
    * which would move every per-key row (one per distinct id — billions
    * at scale) through a single task; ironic failure mode for the
    * operator that DETECTS hot partitions. TakeOrdered cut. The same
    * number predicts shuffle skew for every join keyed on this column —
    * feed the hot keys to [[Scale.saltedJoin]] (or let
    * [[Scale.autoSalted]] do it).
    *
    * Overflow headroom: `c * 10000 * 2` needs c ≤ 4.6e14 events on ONE
    * key — a 100 TB log (~1e12 events) cannot reach it even if a single
    * key owns the entire log.
    */
  def hotPartitionReport(
      log: DataFrame, keyCol: String, hotFactor: Long = 3L,
      topK: Int = 20): DataFrame = {
    // materialized: per feeds both the totals agg and the final select —
    // unchecked, each consumer re-scans the LOG (the 100 TB input),
    // doubling the report's cost; the checkpoint is O(distinct keys)
    val per = Extensions.materialized(log.select(col(keyCol).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("c")))
    val totals = per.agg(
      sum(col("c")).cast("long").as("tot"),
      count(lit(1)).as("nids"))
    per
      .crossJoin(broadcast(totals))
      .select(col("k").as("key"), col("c").as("n_events"),
        expr("((c * 10000 * 2 + tot) DIV (2 * tot)) / 10000.0D").as("share"),
        expr("((10000 * 2 + nids) DIV (2 * nids)) / 10000.0D").as("mean_share"),
        (col("c") * col("nids") > lit(hotFactor) * col("tot")).as("hot"))
      .orderBy(col("n_events").desc, col("key"))
      .limit(topK)
  }

  /** x187: the fixture log's partition-heat top-20 (organic traffic —
    * shares hug the mean; the planted spec is where the flag fires).
    */
  def x187HotPartitions(s: SparkSession, dir: String): DataFrame =
    hotPartitionReport(Tables.load(s, dir, "events"), "user_id")

  private val x187OracleSql: String = """
      WITH per AS (SELECT user_id AS k, count(*) AS c
                   FROM events GROUP BY user_id),
      w AS (SELECT *, CAST(sum(c) OVER () AS BIGINT) AS tot,
                   CAST(count(*) OVER () AS BIGINT) AS nids
            FROM per)
      SELECT k AS key, c AS n_events,
             ((c * 10000 * 2 + tot) // (2 * tot)) / 10000.0 AS share,
             ((10000 * 2 + nids) // (2 * nids)) / 10000.0 AS mean_share,
             c * nids > 3 * tot AS hot
      FROM w
      ORDER BY n_events DESC, key
      LIMIT 20"""

  val entries: Seq[Entry] = Seq(
    Entry("x186_version_audit", x186VersionAudit _, x186OracleSql),
    Entry("x187_hot_partitions", x187HotPartitions _, x187OracleSql))
}
