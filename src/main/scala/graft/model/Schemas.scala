package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Core data model of the engine.
  *
  * The reference system-of-record is the Cassandra `EVENTS` table
  * (reference: src/test/resources/initial_db.sql:5-12):
  * {{{
  *   CREATE TABLE EVENTS (
  *     ID bigint, NAME text, VERSION bigint, DATE timestamp, DATA text,
  *     PRIMARY KEY(ID, NAME, VERSION));
  * }}}
  * mapped here to a typed case class over a Parquet event log (no Cassandra
  * connector ships offline; semantics — PK idempotence, per-key version
  * order — are enforced in the fold, not the transport).
  */
final case class Event(
    id: Long,
    name: String,
    version: Long,
    date: java.sql.Timestamp,
    data: String)

object Schemas {
  /** Event envelope schema (initial_db.sql:6-10). */
  val event: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("version", LongType, nullable = false),
    StructField("date", TimestampType, nullable = true),
    StructField("data", StringType, nullable = true)))

  /** Driver test-table `events` (FIXTURES.md B): the scale surrogate of the
    * reference EVENTS table (user_id→ID, event_type→NAME, event_id→VERSION,
    * ts→DATE, props→DATA).
    */
  val streamEvents: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = true),
    StructField("ts", TimestampType, nullable = true),
    StructField("user_id", LongType, nullable = true),
    StructField("event_type", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true)))
}

/** Loaders for the driver-generated test tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir) else
      spark.read.parquet(s"$dir/$name.parquet")

  /** `events.parquet` has shipped with two physical `ts` encodings across
    * driver testdata generations: TIMESTAMP(NANOS) — which Spark 4's
    * vectorized reader rejects outright (PARQUET_TYPE_ILLEGAL), so it is
    * read as a nanos long and rebuilt — and TIMESTAMP(MICROS) without UTC
    * adjustment, which arrives as TIMESTAMP_NTZ. Both are normalized to a
    * microsecond TimestampType: lossless (the generated data is µs-aligned;
    * verified sub-µs residue is zero at every sf), µs is exactly DuckDB's
    * native timestamp precision, and the NTZ→LTZ cast is value-identical
    * under the engine's UTC session timezone. Normalizing keeps every
    * downstream ts expression and dumped result schema identical whichever
    * generation of fixture is on disk.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/events.parquet")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast(TimestampType))
      case _ => df
    }
  }
}
