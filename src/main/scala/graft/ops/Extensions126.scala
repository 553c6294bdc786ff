package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-twenty-sixth extension batch — XML interchange fidelity
  * (x277): the event log round-trips through the XML datasource built
  * into spark-sql since 4.0 (rowTag-per-event, pinned schema on read —
  * never inference), and the query aggregates the ROUND-TRIPPED rows
  * while the oracle aggregates the ORIGINAL parquet: a hash match
  * proves byte-level fidelity of ids, versions, names, payloads, and
  * microsecond timestamps through the format enterprise event feeds
  * still arrive in. This is the oracle-backed leg of the S2
  * source-format breadth row (JSONL/CSV/ORC are spec-verified;
  * XML additionally earns the DuckDB gate).
  *
  * Scale note: the XML write/read here is a fidelity probe over the
  * fixture log, not a recommended storage layout — the card's point is
  * that ingest-from-XML loses nothing before the parquet-native
  * pipeline takes over.
  */
object Extensions126 {

  /** Per event type AFTER an XML round-trip of the whole table:
    * (event_type, n, n_users, sum_cents, sum_ids, last_us) — exact
    * integers spanning ids, the money column (cents), user identity,
    * and microsecond timestamps, so any fidelity loss through the
    * format breaks the hash.
    */
  def xmlRoundTripCard(events: DataFrame, scratchDir: Option[String] = None): DataFrame = {
    val spark = events.sparkSession
    // a DETERMINISTIC scratch path overwritten per run — a fresh
    // createTempDirectory per invocation leaked one copy of the events
    // table per bench repeat (never cleaned: the returned aggregate is
    // lazy, so the dir must outlive this call). mode("overwrite")
    // bounds residue to exactly one copy, reclaimed by the OS tmp
    // sweeper; callers needing isolation pass their own scratchDir.
    // The applicationId keys the path per SESSION (the reads under the
    // returned aggregate are lazy — a host-shared fixed path would let
    // two concurrent sessions overwrite each other under the card).
    val dir = scratchDir.getOrElse(Scratch.sessionDir(spark, "xml_rt_scratch"))
    // the default XML timestamp pattern truncates to milliseconds —
    // pin a microsecond format on BOTH sides (caught by the oracle:
    // last_us ...262777 came back ...262000 under the default)
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    events.write.mode("overwrite").format("xml")
      .option("rootTag", "events").option("rowTag", "event")
      .option("timestampFormat", tsFmt)
      .save(s"$dir/log")
    val back = spark.read.schema(events.schema)
      .format("xml").option("rowTag", "event")
      .option("timestampFormat", tsFmt)
      .load(s"$dir/log")
    back.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(round(col("value") * 100).cast("long")).as("sum_cents"),
        sum(col("event_id")).as("sum_ids"),
        max(unix_micros(col("ts"))).as("last_us"))
  }

  /** x277: the fixture events table through XML and back. */
  def x277XmlRoundTrip(s: SparkSession, dir: String): DataFrame =
    xmlRoundTripCard(Tables.load(s, dir, "events"))

  /** The oracle never sees the XML — it aggregates the ORIGINAL
    * parquet, so any loss in the round-trip breaks the hash.
    */
  private val x277OracleSql: String = """
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
             CAST(sum(event_id) AS BIGINT) AS sum_ids,
             CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
      FROM events
      GROUP BY event_type
      ORDER BY event_type"""

  val entries: Seq[Entry] = Seq(
    Entry("x277_xml_roundtrip", x277XmlRoundTrip _, x277OracleSql))
}
