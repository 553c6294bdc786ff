package graft.state

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.log.EventLog

/** The engine's core operator: per-aggregate event fold → current state.
  *
  * This is what the reference's query service does by consuming the Kafka
  * topic into an in-memory read model (reference: start_container.sh:95 —
  * the query container is wired to Kafka only, no durable store; observed
  * latest-wins semantics PlayerResourceIT.java:148-171).
  *
  * [[latestState]] is `max_by(struct(cols), orderCol)` — a hash aggregate
  * with map-side partial aggregation, shuffle-once on the aggregate key:
  * each input partition reduces to ≤ |distinct keys in partition| rows
  * before the exchange, so the shuffle carries states, not events. The
  * streaming read model ([[graft.stream.Materializer.startSnapshot]])
  * folds with the same `max_by`, in the snapshot merge, and shares
  * [[playerRow]] with [[playerState]].
  *
  * Order-insensitivity: the fold orders by `version` explicitly, so the
  * engine does not depend on arrival order — unlike the reference, which
  * leaned on a single Kafka partition for total order
  * (start_container.sh:56). That is what frees us to parallelize.
  */
object Materialize {

  /** A1/A4 generic form: one current-state row per `keyCol`, the row with the
    * maximal `orderCol` winning. One-pass partial+final hash aggregate.
    */
  def latestState(events: DataFrame, keyCol: String, orderCol: String): DataFrame = {
    val payload = struct(events.columns.map(col).toIndexedSeq: _*)
    events
      .groupBy(col(keyCol))
      .agg(max_by(payload, col(orderCol)).as("s"))
      .select(events.columns.map(c => col(s"s.$c").as(c)).toIndexedSeq: _*)
  }

  /** One Player* event (or fold winner) as a read-model row: `id`,
    * `version`, the payload's `firstName`/`lastName`, and `deleted`, the
    * tombstone of a delete event (whose names are null). The one payload
    * parse of the read model: [[playerState]] applies it to the fold's
    * winners, the snapshot stream to every event before its merge.
    */
  private[graft] def playerRow(events: DataFrame): DataFrame = {
    val deleted = col("name").endsWith("Deleted")
    def field(f: String) = when(!deleted, get_json_object(col("data"), "$." + f)).as(f)
    events.select(col("id"), col("version"), field("firstName"), field("lastName"),
      deleted.as("deleted"))
  }

  /** Reference-shaped read model: fold Player* events into live players.
    * Mirrors the observed CRUD semantics end to end
    * (PlayerResourceIT.java:109-190):
    *  - PK-duplicate redelivery collapses first (A2, initial_db.sql:11);
    *  - latest version wins (update visible on re-read, IT:148-161);
    *  - a delete event tombstones the aggregate out of findAll (M3);
    *  - deleting a never-created id leaves no trace (IT:174-179 — the id
    *    only ever has a delete event, whose tombstone yields no row).
    */
  def playerState(events: DataFrame): DataFrame = {
    val deduped = EventLog.pkDedup(events)
    playerRow(latestState(deduped, "id", "version"))
      .filter(!col("deleted"))
      .select("id", "firstName", "lastName")
  }

  /** findById (P1): equality predicate on the materialization key. Filtering
    * the *events* before the fold lets Catalyst push `id = x` into the
    * Parquet scan (row-group pruning — the analog of Cassandra partition-key
    * addressing, initial_db.sql:11).
    */
  def findById(events: DataFrame, id: Long): DataFrame =
    playerState(events.filter(col("id") === lit(id)))

  /** findAll (P2): the flagship full materialization
    * (PlayerResourceIT.java:164-171).
    */
  def findAll(events: DataFrame): DataFrame =
    playerState(events).orderBy("id")

  /** Row/column-restricted view (P5) — the engine-side analog of the
    * reference's token-gated access split (PlayerResourceIT.java:124-134:
    * writes require the admin role, reads the user role; an unauthorized
    * principal sees an error, never data). In an analytics engine the
    * enforcement point is a restricted view handed to the consumer: rows
    * not matching `rowPredicate` and columns outside `visibleCols` simply
    * do not exist in the plan the consumer can reach, and Catalyst pushes
    * the predicate into the scan like any other filter (no post-hoc
    * redaction pass). An empty `visibleCols` keeps every column. Register
    * the result as a temp view to gate a SQL session.
    */
  def authorizedView(
      df: DataFrame, rowPredicate: Column,
      visibleCols: Seq[String] = Nil): DataFrame = {
    val filtered = df.filter(rowPredicate)
    if (visibleCols.isEmpty) filtered
    else filtered.select(visibleCols.map(col): _*)
  }

  /** Point-in-time read: the state every aggregate HAD when `orderCol`
    * (a version or an event-time column) was ≤ `bound` — the audit /
    * time-travel read an append-only log supports for free and a
    * mutable table cannot. Same one-shuffle fold as [[latestState]];
    * the bound is a scan-pushed predicate (row-group pruning when the
    * log is sorted by the order column, as [[EventLog.append]] lays
    * out).
    *
    * Replay consistency (spec-asserted): asOfState at bound B equals
    * latestState of the log's prefix up to B — so any historical
    * snapshot can be reproduced exactly, which is what makes the event
    * log the system of record.
    */
  def asOfState(
      events: DataFrame, keyCol: String, orderCol: String,
      bound: Column): DataFrame =
    latestState(events.filter(col(orderCol) <= bound), keyCol, orderCol)
}
