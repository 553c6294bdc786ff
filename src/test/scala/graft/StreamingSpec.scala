package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.model.Event
import graft.ops.{Extensions32, Extensions4}
import graft.state.Materialize
import graft.stream.Materializer

/** Streaming semantics (SURVEY §2.8): the batch≡stream equivalence the
  * reference demonstrates operationally (command-then-query round trip,
  * PlayerResourceIT.java:123-139) plus watermark/window behavior the
  * reference never exercises but the engine ships.
  */
class StreamingSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)
  private def payload(f: String, l: String) = s"""{"firstName":"$f","lastName":"$l"}"""

  private val fixture = Seq(
    Event(1, "PlayerCreated", 0, ts(0), payload("Robert", "Brem")),
    Event(2, "PlayerCreated", 0, ts(1), payload("Other", "Player")),
    Event(1, "PlayerUpdated", 1, ts(2), payload("Robertupdated", "Bremupdated")),
    Event(2, "PlayerDeleted", 1, ts(3), "{}"))

  test("streaming materialization over replay equals batch latestState (ST3/ST4)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    val root = tmpDir("snap_memory")
    // two micro-batches: create-create, then update-delete — the second
    // folds against the rows the first committed, not just within itself
    Seq(fixture.take(2), fixture.drop(2)).foreach { events =>
      stream.addData(events)
      Materializer.startSnapshot(stream.toDS(), s"$root/snapshot", s"$root/ckpt", 8)
        .awaitTermination()
    }
    val live = Materializer.readSnapshot(spark, s"$root/snapshot")
      .select($"id", $"firstName", $"lastName")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

    val batch = Materialize.playerState(fixture.toDS.toDF)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(live == batch)
    assert(batch == Set((1L, "Robertupdated", "Bremupdated")))
  }

  test("file-spool source: append then tail (S3/S4 transport stand-in)") {
    import spark.implicits._
    val root = tmpDir("spool_tail")
    val spool = s"$root/spool"; val snap = s"$root/snapshot"
    def tail(): Set[Long] = {
      Materializer.startSnapshot(Materializer.readEventStream(spark, spool), snap,
        s"$root/ckpt", 8).awaitTermination()
      Materializer.readSnapshot(spark, snap).select($"id").as[Long].collect().toSet
    }
    fixture.take(2).toDS.write.mode("append").parquet(spool)
    assert(tail() == Set(1L, 2L))
    fixture.drop(2).toDS.write.mode("append").parquet(spool)
    assert(tail() == Set(1L))
  }

  test("watermarked tumbling windows drop late data past the watermark (ST5)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    val windowed = Materializer.windowedCounts(stream.toDS(), "10 minutes", "1 hour")
    val q = windowed.writeStream
      .outputMode("append")
      .format("memory").queryName("windowed")
      .option("checkpointLocation", tmpDir("ckpt3"))
      .start()
    val base = 1700000000000L // 2023-11-14 22:13:20 UTC
    def at(ms: Long) = new Timestamp(ms)
    // events in hour-window W0, then jump far ahead (advances watermark
    // past W0's end + 10 min), then a late straggler back in W0
    stream.addData(Seq(
      Event(1, "click", 0, at(base), "{}"),
      Event(2, "click", 1, at(base + 60000), "{}")))
    q.processAllAvailable()
    stream.addData(Seq(Event(3, "click", 2, at(base + 8L * 3600 * 1000), "{}")))
    q.processAllAvailable()
    stream.addData(Seq(Event(4, "click", 3, at(base + 120000), "{}"))) // late, beyond watermark
    q.processAllAvailable()
    q.stop()
    val counts = spark.table("windowed").select($"n").as[Long].collect()
    // W0 must have closed with exactly 2 rows; the late event must not
    // have produced a correction row (it was dropped)
    assert(counts.contains(2L) && !counts.contains(3L))
  }

  test("planned watermark: measured drop on the planted-latency stream matches the plan") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val n = 1200
    val batchSize = 100L
    val base = 1700000000000L
    def evAt(i: Int) = Event(i.toLong, "click", i.toLong,
      new Timestamp(base + i * 60000L), "{}")
    // arrival order: event i arrives at position i, except every 97th,
    // which arrives 450 positions late (≈ 350-450 minutes of lateness
    // once the high watermark has advanced past it)
    val arrivals = (0 until n).map { i =>
      val pos = if (i % 97 == 0 && i + 450 < n) i + 450 else i
      (pos, evAt(i))
    }.sortBy(_._1).map(_._2)
    val history = arrivals.zipWithIndex
      .map { case (e, pos) => (pos.toLong, e.date) }.toDF("arr", "date")

    // target 0.1% is unreachable at 60 min (the stragglers are ~400 min
    // late) and the only bound offered is 60 — the planner falls back to
    // the largest bound and reports the residual drops it PREDICTS
    val (delay60, predicted60) = Materializer.plannedWatermark(
      history, "arr", "date", batchSize, Seq(60L), targetDropShare = 0.001)
    assert(delay60 == 60L && predicted60 > 0,
      s"fixture must predict drops at 60 min: $predicted60")
    // offered a wide menu, the planner picks the cheapest bound that
    // actually covers the planted 450-position lateness
    val (delayWide, predictedWide) = Materializer.plannedWatermark(
      history, "arr", "date", batchSize, Seq(0L, 60L, 240L, 480L),
      targetDropShare = 0.001)
    assert(delayWide == 480L && predictedWide == 0,
      s"480 min covers every straggler: chose $delayWide with $predictedWide")

    // apply the 60-minute plan to the REAL stream, batched exactly as
    // the plan modeled, and measure the drops
    val stream = MemoryStream[Event]
    val (windowed, applied) = Materializer.windowedCountsPlanned(
      stream.toDS(), history, "arr", batchSize, Seq(60L),
      targetDropShare = 0.001, windowLen = "1 minute")
    assert(applied == 60L)
    val q = windowed.writeStream
      .outputMode("append")
      .format("memory").queryName("planned_wm")
      .option("checkpointLocation", tmpDir("ckpt_wm"))
      .start()
    arrivals.grouped(batchSize.toInt).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    // sentinel far in the future closes every real window so append mode
    // emits them all; its own window is excluded from the count below
    val sentinel = Event(-1L, "click", -1L,
      new Timestamp(base + 10L * 365 * 24 * 3600 * 1000), "{}")
    stream.addData(Seq(sentinel)); q.processAllAvailable()
    stream.addData(Seq(sentinel)); q.processAllAvailable()
    q.stop()
    val arrived = spark.table("planned_wm")
      .filter($"window_start" < new Timestamp(base + 10L * 365 * 24 * 3600 * 1000))
      .agg(sum($"n")).collect()(0).getLong(0)
    val measuredDrops = n - arrived
    // the plan's high-watermark model IS Spark's (max event time of prior
    // micro-batches, minus the delay): with 1-minute windows the planted
    // ~400-minute stragglers drop under both, in-order rows under neither
    assert(measuredDrops == predicted60,
      s"measured $measuredDrops drops vs planned $predicted60 at $delay60 min")
  }

  test("streaming PK dedup: redelivered events collapse across micro-batches (A2 on the stream)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    val deduped = stream.toDS().dropDuplicates("id", "name", "version")
    val q = deduped.writeStream
      .outputMode("append")
      .format("memory").queryName("dedup_state")
      .option("checkpointLocation", tmpDir("ckpt4"))
      .start()
    stream.addData(fixture.take(2))
    q.processAllAvailable()
    // redeliver batch 1 (duplicate PKs) together with new events
    stream.addData(fixture.take(2) ++ fixture.drop(2))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_state")
      .select($"id", $"name", $"version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.length == rows.distinct.length, "duplicate PK survived streaming dedup")
    assert(rows.length == fixture.map(e => (e.id, e.name, e.version)).distinct.length)
  }

  test("streaming session windows merge within the gap and emit once the watermark passes") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    val sessions = stream.toDS()
      .withWatermark("date", "1 minute")
      .groupBy(session_window(col("date"), "10 minutes").as("sw"), col("id"))
      .agg(count(lit(1)).as("n"))
      .select(col("id"), col("n"))
    val q = sessions.writeStream
      .outputMode("append")
      .format("memory").queryName("sessions_stream")
      .option("checkpointLocation", tmpDir("ckpt_sess"))
      .start()
    val base = 1700000000000L
    def at(ms: Long) = new Timestamp(ms)
    // two bursts for id=1 separated by > gap => two sessions; id=2 one burst
    stream.addData(Seq(
      Event(1, "click", 0, at(base), "{}"),
      Event(1, "click", 1, at(base + 60000), "{}"),          // same session (1 min later)
      Event(1, "click", 2, at(base + 30 * 60000), "{}"),     // new session (30 min later)
      Event(2, "click", 0, at(base + 60000), "{}")))
    q.processAllAvailable()
    // advance the watermark far past every session end so all sessions close
    stream.addData(Seq(Event(99, "click", 0, at(base + 3 * 3600000), "{}")))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sessions_stream").select($"id", $"n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    // id=1: sessions of 2 and 1 events; id=2: one session of 1
    assert(got == Seq((1L, 1L), (1L, 2L), (2L, 1L)), s"got $got")
  }

  test("bounded-state streaming dedup drops watermark-horizon redeliveries (dropDuplicatesWithinWatermark)") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    val q = Materializer.dedupStream(stream.toDS(), watermark = "10 minutes")
      .writeStream
      .outputMode("append")
      .format("memory").queryName("dedup_wm")
      .option("checkpointLocation", tmpDir("ckpt_wm"))
      .start()
    stream.addData(fixture.take(2))
    q.processAllAvailable()
    // redeliver inside the watermark horizon together with fresh events
    stream.addData(fixture.take(2) ++ fixture.drop(2))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("dedup_wm")
      .select($"id", $"version").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.distinct.length, "duplicate (id,version) survived watermarked dedup")
    assert(rows.toSet == fixture.map(e => (e.id, e.version)).toSet)
  }

  test("stream-static broadcast enrichment decorates the stream without join state") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dim = Seq((1L, "emea"), (2L, "amer")).toDF("id", "region")
    val stream = MemoryStream[Event]
    val q = Materializer.enrichStream(stream.toDS(), dim)
      .writeStream
      .outputMode("append")
      .format("memory").queryName("enriched")
      .option("checkpointLocation", tmpDir("ckpt_enrich"))
      .start()
    stream.addData(fixture)
    q.processAllAvailable()
    q.stop()
    val regions = spark.table("enriched").select($"id", $"region")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(regions == Set((1L, "emea"), (2L, "amer")))
  }

  test("stream-stream interval join correlates click->purchase within the bound") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val stream = MemoryStream[Event]
    val joined = Materializer.intervalJoin(stream.toDS(), "click", "purchase",
      watermark = "1 minute", withinSeconds = 600)
    val q = joined.writeStream
      .outputMode("append")
      .format("memory").queryName("corr")
      .option("checkpointLocation", tmpDir("ckpt5"))
      .start()
    val base = 1700000000000L
    def at(ms: Long) = new Timestamp(ms)
    stream.addData(Seq(
      Event(1, "click", 0, at(base), "{}"),
      Event(1, "purchase", 1, at(base + 300000), "{}"),   // 5 min later: inside bound
      Event(2, "click", 0, at(base), "{}"),
      Event(2, "purchase", 1, at(base + 1200000), "{}"),  // 20 min later: outside bound
      Event(3, "purchase", 0, at(base + 60000), "{}")))   // purchase with no click
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("corr").select($"id", $"r_version")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 1L)), s"got $pairs")
  }

  test("batch window operators agree between sessionize formulations") {
    // native session_window vs manual lag+cumsum over the same data
    val native = graft.ops.TimeWindows.q38SessionWindow(spark, sf0001)
      .select(col("user_id"), col("session_start"), col("n"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val manual = graft.ops.EventSourcing.sessionize(spark, sf0001)
      .select(col("user_id"), col("session_start"), col("n_events"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(native == manual)
  }

  test("startSnapshot merges micro-batches into touched buckets only; readSnapshot drops tombstones") {
    import spark.implicits._
    val root = tmpDir("snap_stream")
    val spool = s"$root/spool"; val snap = s"$root/snapshot"; val ckpt = s"$root/ckpt"
    val nb = 8
    // batch 1: two creates, an update, a delete -> snapshot has a tombstone for id 2
    fixture.toDS.write.mode("append").parquet(spool)
    Materializer.startSnapshot(Materializer.readEventStream(spark, spool), snap, ckpt, nb)
      .awaitTermination()
    val served1 = Materializer.readSnapshot(spark, snap)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("firstName")).toMap
    assert(served1 == Map(1L -> "Robertupdated"), s"got $served1")
    // the row schema every snapshot of this stream has had, so a snapshot
    // written by an earlier build keeps merging unchanged
    import org.apache.spark.sql.types._
    val schema = graft.log.EventLog.readSnapshot(spark, snap).schema.map(f => f.name -> f.dataType)
    assert(schema == Seq("id" -> LongType, "version" -> LongType, "firstName" -> StringType,
      "lastName" -> StringType, "deleted" -> BooleanType, "bucket" -> IntegerType), s"got $schema")
    // tombstone row IS durable in the raw snapshot (latest version wins)
    val raw = spark.read.parquet(snap)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("deleted")).toMap
    assert(raw == Map(1L -> false, 2L -> true))
    // batch 2 touches only id 1 (bucket 1): the other bucket dir must not be rewritten
    def newestMtime(b: Int) = {
      val d = new java.io.File(s"$snap/bucket=$b")
      if (!d.exists()) 0L else d.listFiles().map(_.lastModified()).max
    }
    val before2 = newestMtime(2)
    Thread.sleep(1100) // mtime granularity
    Seq(Event(1, "PlayerUpdated", 2, ts(9), payload("Again", "Renamed")))
      .toDS.write.mode("append").parquet(spool)
    Materializer.startSnapshot(Materializer.readEventStream(spark, spool), snap, ckpt, nb)
      .awaitTermination()
    assert(newestMtime(2) == before2, "bucket=2 was rewritten by a batch touching only id 1")
    val served2 = Materializer.readSnapshot(spark, snap)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("firstName")).toMap
    assert(served2 == Map(1L -> "Again"), s"got $served2")
  }

  /** The served snapshot and the batch fold of the spool, as (id,
    * firstName, lastName) sets.
    */
  private def servedAndFolded(snap: String, spool: String) = {
    def names(df: org.apache.spark.sql.DataFrame) = df.select("id", "firstName", "lastName")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    (names(Materializer.readSnapshot(spark, snap)),
      names(Materialize.playerState(graft.log.EventLog.scan(spark, spool).toDF())))
  }

  /** Player payloads a hand-written field scan misreads, chosen by `kind`:
    * plain, an escaped quote, a backslash, a `\u00e9` escape, and a
    * nested object with its own `firstName` ahead of the top-level one.
    */
  private def escapedPayload(f: String, l: String, kind: Int): String = kind % 5 match {
    case 0 => payload(f, l)
    case 1 => payload("O\\\"Brien " + f, l)
    case 2 => payload(f + "\\\\back", l)
    case 3 => payload("Ren\\u00e9 " + f, l)
    case _ => s"""{"meta":{"firstName":"nested"},"firstName":"$f","lastName":"$l"}"""
  }

  /** Every snapshot row, tombstones included. */
  private def rawSnapshot(snap: String): Seq[String] =
    graft.log.EventLog.readSnapshot(spark, snap)
      .select("id", "version", "firstName", "lastName", "deleted")
      .collect().map(_.toString).toSeq.sorted

  test("the stateless snapshot stream equals the fold over random redelivered histories") {
    import spark.implicits._
    for (seed <- Seq(11L, 12L)) {
      val rng = new scala.util.Random(seed)
      // per id: versions 0..n-1, each a create, update or delete (a
      // create after a delete re-creates the id); a lone delete is a
      // delete of a never-created id
      val history = (0L until 48L).flatMap { id =>
        if (rng.nextInt(6) == 0) Seq(Event(id, "PlayerDeleted", 0, ts(0), "{}"))
        else (0 until 1 + rng.nextInt(5)).map { v =>
          val name =
            if (v == 0) "PlayerCreated"
            else Seq("PlayerUpdated", "PlayerDeleted", "PlayerCreated")(rng.nextInt(3))
          Event(id, name, v, ts(v),
            if (name == "PlayerDeleted") "{}"
            else escapedPayload(s"f$id.$v", s"l$id.$v", (id + v).toInt))
        }
      }
      val byId = history.groupBy(_.id).values.map(_.sortBy(_.version).map(_.name))
      assert(byId.exists(_.sliding(2).contains(Seq("PlayerDeleted", "PlayerCreated"))),
        "the history must delete and then re-create some id")
      assert(byId.exists(_ == Seq("PlayerDeleted")),
        "the history must delete some never-created id")
      // three runs over a shuffled history; runs 2 and 3 also redeliver
      // events of earlier runs, so stale versions arrive after newer ones
      val runs = rng.shuffle(history).grouped((history.size + 2) / 3).toSeq
      assert(runs.size == 3)
      val root = tmpDir(s"snap_stateless_$seed")
      val spool = s"$root/spool"; val snap = s"$root/snapshot"
      runs.zipWithIndex.foreach { case (run, i) =>
        val redelivered = runs.take(i).flatten.filter(_ => rng.nextInt(4) == 0)
        (run ++ redelivered).toDS.repartition(2).write.mode("append").parquet(spool)
        Materializer.startSnapshot(Materializer.readEventStream(spark, spool), snap,
          s"$root/ckpt", 8).awaitTermination()
        val (served, folded) = servedAndFolded(snap, spool)
        assert(served == folded, s"seed $seed run ${i + 1}: snapshot differs from the fold")
      }
      // the payloads are decoded, not served as their raw JSON text
      val firsts = Materializer.readSnapshot(spark, snap).select("firstName").as[String]
        .collect().toSet
      assert(Seq("O\"Brien f", "Ren\u00e9 f").forall(p => firsts.exists(_.startsWith(p))) &&
        firsts.exists(_.endsWith("\\back")) && !firsts.contains("nested"),
        s"seed $seed: undecoded names in $firsts")
      // replaying the whole spool from a fresh checkpoint is a no-op:
      // the checkpoint only has to hold offsets
      val before = rawSnapshot(snap)
      Materializer.startSnapshot(Materializer.readEventStream(spark, spool), snap,
        s"$root/ckpt_fresh", 8).awaitTermination()
      assert(rawSnapshot(snap) == before, s"seed $seed: a fresh replay changed the snapshot")
    }
  }

  test("a same-version event after its row is committed loses to the committed row") {
    import spark.implicits._
    val root = tmpDir("snap_tie")
    val spool = s"$root/spool"; val snap = s"$root/snapshot"
    def run(events: Seq[Event], ckpt: String): Unit = {
      if (events.nonEmpty) events.toDS.write.mode("append").parquet(spool)
      Materializer.startSnapshot(Materializer.readEventStream(spark, spool), snap, ckpt, 8)
        .awaitTermination()
    }
    run(Seq(
      Event(1, "PlayerCreated", 0, ts(0), payload("Robert", "Brem")),
      Event(1, "PlayerUpdated", 1, ts(1), payload("Kept", "Row"))), s"$root/ckpt")
    // the same version again, with other data: the committed row wins
    run(Seq(
      Event(1, "PlayerUpdated", 1, ts(2), payload("Late", "Intruder")),
      Event(2, "PlayerCreated", 0, ts(3), payload("Other", "Player"))), s"$root/ckpt")
    val served = Materializer.readSnapshot(spark, snap).select("id", "version", "firstName")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(served == Set((1L, 1L, "Kept"), (2L, 0L, "Other")), s"got $served")
    val before = rawSnapshot(snap)
    run(Nil, s"$root/ckpt_fresh")
    assert(rawSnapshot(snap) == before, "a fresh replay changed the snapshot")
  }

  test("a checkpoint of the stateful plan is refused; a fresh checkpoint upgrades the snapshot in place") {
    import spark.implicits._
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
    val root = tmpDir("snap_upgrade")
    val spool = s"$root/spool"; val snap = s"$root/snapshot"; val ckpt = s"$root/ckpt"
    // the previous startSnapshot: a flatMapGroupsWithState fold keeping
    // each id's winning event in the state store (on an equal version
    // the held event wins), each micro-batch deduplicated by id and
    // merged into the snapshot
    def statefulRun(): Unit =
      Materializer.readEventStream(spark, spool)
        .groupByKey(_.id)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (_: Long, events: Iterator[Event], state: GroupState[Event]) =>
            val won = (state.getOption.iterator ++ events)
              .reduce((held, e) => if (e.version > held.version) e else held)
            state.update(won)
            Iterator.single(won)
        }
        .writeStream
        .outputMode(OutputMode.Update)
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: Dataset[Event], _: Long) =>
          graft.log.EventLog.mergeSnapshotKeyed(
            Materialize.playerRow(batch.dropDuplicates("id").toDF()), snap, "id", "version", 8)
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
    fixture.take(2).toDS.write.mode("append").parquet(spool)
    statefulRun()
    fixture.drop(2).toDS.write.mode("append").parquet(spool)
    statefulRun()
    assert(new java.io.File(s"$ckpt/state").exists(), "the stateful plan must leave state")
    val (served0, folded0) = servedAndFolded(snap, spool)
    assert(served0 == folded0)
    Seq(Event(1, "PlayerUpdated", 2, ts(9), payload("After", "Upgrade")),
        Event(2, "PlayerCreated", 2, ts(10), payload("Back", "Again")),
        Event(3, "PlayerCreated", 0, ts(11), payload("New", "Player")))
      .toDS.write.mode("append").parquet(spool)
    // Spark refuses the old checkpoint: its state metadata names an
    // operator the stateless plan no longer has
    val refused = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Materializer.startSnapshot(Materializer.readEventStream(spark, spool), snap, ckpt, 8)
        .awaitTermination()
    }
    assert(refused.getMessage.contains("STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA"))
    assert(servedAndFolded(snap, spool)._1 == served0, "a refused run must not touch the snapshot")
    // the upgrade: the same snapshot on a fresh checkpoint — replaying
    // the spool into it is idempotent, so only the new events change it
    Materializer.startSnapshot(Materializer.readEventStream(spark, spool), snap,
      s"$root/ckpt_fresh", 8).awaitTermination()
    val (served, folded) = servedAndFolded(snap, spool)
    assert(served == folded)
    assert(served == Set((1L, "After", "Upgrade"), (2L, "Back", "Again"), (3L, "New", "Player")))
  }

  test("streaming corpus ingestion: foreachBatch dedups each micro-batch against the growing corpus") {
    import spark.implicits._
    // The steady-state crawl shape: documents arrive as a stream, each
    // micro-batch is judged against the CURRENT corpus via
    // incrementalDedup, and only kept docs append — so a doc admitted in
    // batch N dedups arrivals in batch N+1. Never corpus×corpus.
    val root = tmpDir("ingest")
    val spool = s"$root/spool"; val corpusDir = s"$root/corpus"; val ckpt = s"$root/ckpt"
    Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "one two three four five six seven eight"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(corpusDir)
    // batch 1: a byte-identical copy of corpus doc 1 + a novel doc
    Seq((10L, "alpha beta gamma delta epsilon zeta eta theta"),
        (11L, "totally new content that matches nothing currently stored"))
      .toDF("doc_id", "text").write.mode("append").parquet(spool)
    val q = spark.readStream.schema("doc_id LONG, text STRING").parquet(spool)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val corpus = spark.read.parquet(corpusDir)
          val kept = batch.join(
            Extensions4.incrementalDedup(corpus, batch, "doc_id", "text")
              .filter(col("keep")).select(col("b_id").as("doc_id")),
            Seq("doc_id"), "left_semi")
          kept.write.mode("append").parquet(corpusDir)
        }
      }
      .start()
    q.processAllAvailable()
    // batch 2: a copy of the doc ADMITTED IN BATCH 1 (not in the seed
    // corpus) + another novel doc — proves batch-N admissions gate batch
    // N+1 arrivals
    Seq((20L, "totally new content that matches nothing currently stored"),
        (21L, "yet another brand new document unlike all previous ones"))
      .toDF("doc_id", "text").write.mode("append").parquet(spool)
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(corpusDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 11L, 21L),
      s"expected dups 10 (vs seed) and 20 (vs batch-1 admission) dropped, got $ids")
  }

  test("streaming quality monitor: per-micro-batch funnel stats sum to the batch funnel") {
    import spark.implicits._
    // Continuous corpus-quality monitoring: each micro-batch's filter
    // funnel is appended to a stats table; because every funnel count is
    // an exact per-doc sum, the monitor's totals must equal one batch
    // funnel over the full stream — the invariant that makes the live
    // dashboard trustworthy.
    val root = tmpDir("qmon")
    val spool = s"$root/spool"; val statsDir = s"$root/stats"; val ckpt = s"$root/ckpt"
    val gates = Seq(
      "min_tokens" -> (size(split(lower(col("text")), " ")) >= 4),
      "no_digit_runs" -> !col("text").rlike("[0-9]{4,}"))
    Seq((1L, "good clean text with plenty of words"),
        (2L, "short"), // fails min_tokens
        (3L, "contains the id 123456789 dump here")) // fails digit gate
      .toDF("doc_id", "text").write.mode("append").parquet(spool)
    val q = spark.readStream.schema("doc_id LONG, text STRING").parquet(spool)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.ops.Extensions6.filterFunnel(batch, gates)
            .write.mode("append").parquet(statsDir)
      }
      .start()
    q.processAllAvailable()
    Seq((4L, "another perfectly ordinary document flows through"),
        (5L, "bad 111222333444 row")) // fails digit gate
      .toDF("doc_id", "text").write.mode("append").parquet(spool)
    q.processAllAvailable()
    q.stop()
    val monitored = spark.read.parquet(statsDir)
      .groupBy("stage_no", "stage")
      .agg(sum("n_input").as("n_input"), sum("n_pass").as("n_pass"),
        sum("n_survive").as("n_survive"))
    val batchTotals = graft.ops.Extensions6.filterFunnel(
      spark.read.parquet(spool), gates)
      .select("stage_no", "stage", "n_input", "n_pass", "n_survive")
    assert(monitored.exceptAll(batchTotals).count() == 0
        && batchTotals.exceptAll(monitored).count() == 0,
      "summed micro-batch funnels must equal the batch funnel over the full stream")
    // and the gates actually bit: final survivors = docs 1 and 4
    val last = batchTotals.orderBy(col("stage_no").desc).limit(1)
      .collect()(0).getAs[Long]("n_survive")
    assert(last == 2L, s"expected 2 survivors, got $last")
  }

  test("end-to-end streaming curation: dedup -> quality gate -> decontaminate -> store append + TrainStore (the production crawl round-trip)") {
    import spark.implicits._
    // The full per-batch plan a production crawl runs (PLANS.md round-6
    // curation section): sign the batch, dedup against the PRUNED
    // SignatureStore read, Gopher-gate the novel docs (map-side), drop
    // benchmark contamination vs a fixed eval set (inverted-index join),
    // then append ONLY the admitted docs' signatures and spool their text
    // for the TrainStore. Asserted invariants: every gate bites exactly
    // once somewhere, funnel counts are additive across micro-batches,
    // and the store/TrainStore grow by exactly the admitted docs.
    val root = tmpDir("curation")
    val spool = s"$root/spool"; val store = s"$root/store"
    val curated = s"$root/curated"; val ckpt = s"$root/ckpt"

    // tokens stay 4-6 chars so the rule card's mean-word-length [3, 10]
    // passes; 60 distinct tokens clear word count and repetition
    def prose(seed: String, n: Int): String =
      (1 to n).map(i => s"$seed$i").mkString(" ")
    val goodA = prose("alph", 60)            // admitted in batch 1
    val nearA = (prose("alph", 59) + " diff60")  // near-dup of goodA
    val goodB = prose("brav", 60)            // admitted in batch 2
    val evalText = prose("evlq", 60)         // the benchmark doc
    val evalSet = Seq((9000L, evalText)).toDF("doc_id", "text")
    // seed the store with one unrelated admitted doc
    graft.ops.SignatureStore.write(
      graft.ops.Extensions15.minhashSignatures(
        Seq((1L, prose("sed", 60))).toDF("doc_id", "text"),
        "doc_id", "text"), store)

    val funnel = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    // batch 1: one good novel doc, one too-short doc (quality), one
    // benchmark copy (decontamination) — spooled before the stream
    // starts (the source path must exist)
    Seq((10L, goodA), (11L, "too short"), (12L, evalText))
      .toDF("doc_id", "text").write.mode("append").parquet(spool)
    val q = spark.readStream.schema("doc_id LONG, text STRING").parquet(spool)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val sigsB = graft.ops.Extensions15.minhashSignatures(batch, "doc_id", "text")
          val novel = batch.join(
            graft.ops.SignatureStore.dedupAgainstStore(spark, store, sigsB)
              .filter(col("keep")).select(col("b_id").as("doc_id")),
            Seq("doc_id"), "left_semi")
          val quality = graft.ops.Extensions20.gopherRuleCard(
              novel, "doc_id", "text", carryCols = Seq("text"))
            .filter(col("keep")).select("doc_id", "text")
          val admitted = quality.join(
            graft.ops.Extensions19.decontaminate(
                quality, evalSet, "doc_id", "text", minOverlap = 0.3)
              .filter(col("keep")).select("doc_id"),
            Seq("doc_id"), "left_semi")
          // localCheckpoint, not cache: the admission verdict depends on
          // the store path, and the signature append below invalidates
          // any cache over that path (refreshByPath) — a cached plan
          // would silently RECOMPUTE against the just-mutated store and
          // drop this batch's own admissions from the curated spool
          val adm = admitted.localCheckpoint(eager = true)
          funnel += ((batch.count(), novel.count(), quality.count(), adm.count()))
          graft.ops.SignatureStore.append(
            sigsB.join(adm.select("doc_id"), Seq("doc_id"), "left_semi"), store)
          adm.write.mode("append").parquet(curated)
          ()
        }
      }
      .start()
    q.processAllAvailable()
    // batch 2: a near-copy of batch 1's ADMISSION (dedup vs the grown
    // store), a new good doc, and the benchmark copy again (the decon
    // gate holds steady across batches)
    Seq((20L, nearA), (21L, goodB), (22L, evalText))
      .toDF("doc_id", "text").write.mode("append").parquet(spool)
    q.processAllAvailable()
    q.stop()

    // each gate bit exactly where designed
    assert(funnel.toSeq == Seq((3L, 3L, 2L, 1L), (3L, 2L, 2L, 1L)),
      s"per-batch funnel (arrived, novel, quality, admitted): $funnel")
    // funnel additivity across batches: the curated spool and the store
    // growth both equal the summed per-batch admissions
    val curatedIds = spark.read.parquet(curated).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(curatedIds == Set(10L, 21L), s"curated: $curatedIds")
    assert(funnel.map(_._4).sum == curatedIds.size.toLong)
    val storeIds = graft.ops.StoreManifest.readPinned(spark, store)
      .select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(storeIds == Set(1L, 10L, 21L),
      s"store must grow ONLY by admitted docs: $storeIds")

    // the curated spool feeds the TrainStore; shards hold exactly the
    // admitted docs in reproducible training order
    val shards = s"$root/shards"
    graft.ops.TrainStore.writeShards(
      spark.read.parquet(curated), "doc_id", nShards = 2, shards, Seq("text"))
    val shardIds = (0L until 2L).flatMap(sh =>
      graft.ops.TrainStore.readShard(spark, shards, sh)
        .select("doc_id").collect().map(_.getLong(0)))
    assert(shardIds.toSet == curatedIds,
      s"TrainStore must hold exactly the admitted docs: $shardIds")
  }

  test("streaming crawl with the TRAINED gate: persisted x94 weights + x105 threshold score each micro-batch; batch≡stream scores; additive funnel") {
    import spark.implicits._
    // Round-6 VERDICT item #7: the production crawl with the trained
    // tier in the loop — dedup vs the signature store, then a quality
    // gate that is NOT a rule card but the persisted x94 logreg scored
    // at the x105-calibrated threshold, then decontamination, then the
    // store appends. The model is trained OFFLINE, shipped through
    // ModelStore, and loaded by the (conceptually separate) serving job.
    val root = tmpDir("trainedcrawl")
    val spool = s"$root/spool"; val store = s"$root/store"
    val curated = s"$root/curated"; val ckpt = s"$root/ckpt"
    val modelPath = s"$root/model/logreg"

    // --- offline: train, calibrate, persist --------------------------------
    // good docs: 60-token runs over a shared pt* pool (every pool token
    // seen in training); bad docs: one junk token repeated 60x — the
    // spiked-bucket signature the classifier must learn to reject
    def run(off: Int): String = (off until off + 60).map(i => s"pt${i % 200}").mkString(" ")
    val trainDocs =
      (0 until 30).map(i => (100L + i, run(i * 7), true)) ++
      (0 until 8).map(i => (200L + i, Seq.fill(60)(s"junk$i").mkString(" "), false))
    val labeled = trainDocs.toDF("doc_id", "text", "keep")
    val w = graft.ops.Extensions26.trainFromText(labeled, "doc_id", "text", "keep", iters = 4)
    graft.ops.ModelStore.writeLogreg(spark, modelPath, w, iters = 4)
    // 990 permille: at 900 the walk deliberately admits up to 10% junk
    // (the max-recall contract), which would let the spiked docs through —
    // a strict crawl gate calibrates tight
    val threshold = Extensions32.calibrateThreshold(
        graft.ops.Extensions26.scoreWithWeights(labeled, "doc_id", "text", "keep", w),
        "margin_micro", "label", targetPermille = 990)
      .head().getAs[Long]("threshold_micro")

    // --- serving: the stream job loads the SHIPPED model -------------------
    val servedW = graft.ops.ModelStore.loadLogreg(spark, modelPath, iters = 4)
    assert(servedW.toSeq == w.toSeq)
    val goodA = run(0)                                     // admitted batch 1
    val nearA = run(0).split(" ").dropRight(1).mkString(" ") + " ptx"  // near-dup of goodA
    val goodB = run(70)                                    // admitted batch 2
    val badDoc = Seq.fill(60)("junk5").mkString(" ")       // trained gate drops it
    val evalText = run(140)                                // benchmark doc -> decon drops it
    val evalSet = Seq((9000L, evalText)).toDF("doc_id", "text")
    graft.ops.SignatureStore.write(
      graft.ops.Extensions15.minhashSignatures(
        Seq((1L, (0 until 60).map(i => s"seed$i").mkString(" "))).toDF("doc_id", "text"),
        "doc_id", "text"), store)

    val funnel = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val streamScores = scala.collection.mutable.Map[Long, Long]()
    Seq((10L, goodA), (11L, badDoc), (12L, evalText))
      .toDF("doc_id", "text").write.mode("append").parquet(spool)
    val q = spark.readStream.schema("doc_id LONG, text STRING").parquet(spool)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val sigsB = graft.ops.Extensions15.minhashSignatures(batch, "doc_id", "text")
          val novel = batch.join(
            graft.ops.SignatureStore.dedupAgainstStore(spark, store, sigsB)
              .filter(col("keep")).select(col("b_id").as("doc_id")),
            Seq("doc_id"), "left_semi")
          // the TRAINED gate: label-free serving fold + calibrated cutoff
          val scored = graft.ops.Extensions26.scoreText(novel, "doc_id", "text", servedW)
          scored.collect().foreach(r => streamScores(r.getLong(0)) = r.getLong(1))
          val quality = novel.join(
            scored.filter(col("margin_micro") > threshold).select("doc_id"),
            Seq("doc_id"), "left_semi")
          val admitted = quality.join(
            graft.ops.Extensions19.decontaminate(
                quality, evalSet, "doc_id", "text", minOverlap = 0.3)
              .filter(col("keep")).select("doc_id"),
            Seq("doc_id"), "left_semi")
          val adm = admitted.localCheckpoint(eager = true)
          funnel += ((batch.count(), novel.count(), quality.count(), adm.count()))
          graft.ops.SignatureStore.append(
            sigsB.join(adm.select("doc_id"), Seq("doc_id"), "left_semi"), store)
          adm.write.mode("append").parquet(curated)
          ()
        }
      }
      .start()
    q.processAllAvailable()
    Seq((20L, nearA), (21L, goodB), (22L, evalText))
      .toDF("doc_id", "text").write.mode("append").parquet(spool)
    q.processAllAvailable()
    q.stop()

    // every gate bit exactly once: batch 1 loses 11 (trained gate) and
    // 12 (decon); batch 2 loses 20 (dedup vs batch-1 admission) and 22
    assert(funnel.toSeq == Seq((3L, 3L, 2L, 1L), (3L, 2L, 2L, 1L)),
      s"per-batch funnel (arrived, novel, trained-gate, admitted): $funnel")
    val curatedIds = spark.read.parquet(curated).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(curatedIds == Set(10L, 21L), s"curated: $curatedIds")
    assert(funnel.map(_._4).sum == curatedIds.size.toLong,
      "admissions must be additive across micro-batches")

    // batch ≡ stream: scoring the whole spool in ONE batch job with the
    // same persisted weights reproduces every micro-batch margin exactly
    val batchScores = graft.ops.Extensions26.scoreText(
        spark.read.parquet(spool), "doc_id", "text", servedW)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    streamScores.foreach { case (id, m) =>
      assert(batchScores(id) == m,
        s"doc $id: stream margin $m != batch margin ${batchScores(id)}")
    }
    // and the gate separated the planted classes with real margin
    assert(streamScores(10L) > threshold && streamScores(21L) > threshold)
    assert(streamScores(11L) <= threshold,
      s"junk doc must fall below the calibrated threshold: ${streamScores(11L)} vs $threshold")
  }

  test("streaming ANN maintenance: micro-batch appends + tombstone-triggered compaction on the PqStore; served path stays pruned mid-stream; final store ≡ from-scratch build; recall tracked per batch") {
    import spark.implicits._
    // Round-7 VERDICT item #3: the crawl loop composed with the
    // persisted vector tier the way the trained-gate test composes it
    // with the classifier — each micro-batch's embeddings append to the
    // PqStore against the STORED geometry, deletions accumulate until a
    // size trigger fires compactIndex, and recall@5 on the served path
    // is scored after every batch. The contract: after N appends + a
    // compaction, serving answers exactly like an index built from
    // scratch over the surviving vectors.
    val root = tmpDir("annstream")
    val spool = s"$root/spool"; val ckpt = s"$root/ckpt"
    val store = s"$root/pq"
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val codebook = graft.ops.Extensions27.pqTrain(emb, "vec_id", "embedding", iters = 2)

    // bootstrap index: ids < 400 (coarse seeds 0..7 live here, so every
    // later geometry decision is pinned by the store, not the stream)
    graft.ops.PqStore.writeIndex(
      emb.filter(col("vec_id") < 400), "vec_id", "embedding", codebook, store)

    val queries = emb.filter(col("vec_id") < 5)
    def servedSet(): Set[(Long, Long, Long, Long)] =
      graft.ops.PqStore.topKFromIndex(spark, store, queries,
          "vec_id", "embedding", k = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet

    // stream payload: (vec_id, embedding, op) — adds and tombstones
    val adds1 = emb.filter(col("vec_id") >= 400 && col("vec_id") < 500)
      .withColumn("op", lit("add"))
    // batch 2 adds the rest and tombstones 10 of batch 1's vectors —
    // enough to cross the compaction trigger (>= 8 pending deletes)
    val adds2 = emb.filter(col("vec_id") >= 500)
      .withColumn("op", lit("add"))
    val dels2 = emb.filter(col("vec_id") >= 450 && col("vec_id") < 460)
      .withColumn("op", lit("del"))

    val recalls = scala.collection.mutable.ArrayBuffer[Double]()
    val pendingDeletes = new java.util.concurrent.atomic.AtomicLong(0L)
    var prunedMidStream = false
    adds1.write.mode("append").parquet(spool)
    val q = spark.readStream
      .schema(adds1.schema)
      .parquet(spool)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val b = batch.localCheckpoint(eager = true)
          val adds = b.filter(col("op") === "add").drop("op")
          if (!adds.isEmpty)
            graft.ops.PqStore.appendToIndex(adds, "vec_id", "embedding", store)
          val dels = b.filter(col("op") === "del").drop("op")
          val nDel = dels.count()
          if (nDel > 0) {
            // size-triggered compaction: only when enough tombstones pend
            if (pendingDeletes.addAndGet(nDel) >= 8L) {
              graft.ops.PqStore.compactIndex(dels, "vec_id", "embedding", store)
              pendingDeletes.set(0L)
            }
          }
          // served-path recall@5 after this batch, truth = brute force
          // over what the index SHOULD currently hold
          val servedDf = graft.ops.PqStore.topKFromIndex(spark, store, queries,
            "vec_id", "embedding", k = 5)
          servedDf.collect()
          val plan = servedDf.queryExecution.executedPlan.toString
          prunedMidStream |= plan.contains(" IN (") && plan.contains("PartitionFilters")
          val liveIds = graft.ops.StoreManifest.readPinned(spark, s"$store/codes")
            .select("vec_id")
          val truth = graft.ops.Extensions27.bruteTopK(
              emb.join(liveIds, Seq("vec_id"), "left_semi"), queries,
              "vec_id", "embedding", k = 5)
            .select(col("q_id"), col("c_id"))
          val r = graft.ops.Extensions4.recallAtK(servedDf, truth)
            .agg(sum("n_hit").cast("double") / sum("n_truth")).head().getDouble(0)
          recalls += r
          ()
        }
      }
      .start()
    q.processAllAvailable()
    adds2.unionByName(dels2).write.mode("append").parquet(spool)
    q.processAllAvailable()
    q.stop()

    // pruning held while the stream was live
    assert(prunedMidStream, "mid-stream serving must still partition-prune on cell")
    // recall was scored after every micro-batch (>= 2 — the source may
    // legally split an append into several micro-batches) and stayed real
    assert(recalls.size >= 2, s"one recall point per batch: $recalls")
    assert(recalls.forall(_ >= 0.2), s"served-path recall collapsed: $recalls")

    // (posting-index maintenance note: the text-retrieval tier follows
    // the same loop — see the posting-store crawl test below)
    // the grown+compacted store answers EXACTLY like a from-scratch
    // build over the surviving vectors (same codebook, same seeds)
    val survivors = emb.filter(!(col("vec_id") >= 450 && col("vec_id") < 460))
    val fresh = s"$root/pq_fresh"
    graft.ops.PqStore.writeIndex(survivors, "vec_id", "embedding", codebook, fresh)
    val grown = servedSet()
    val rebuilt = graft.ops.PqStore.topKFromIndex(spark, fresh, queries,
        "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(grown == rebuilt,
      s"maintained store diverged from rebuild: only-grown=${grown -- rebuilt}, only-rebuilt=${rebuilt -- grown}")
    // and the tombstoned vectors are really unservable
    val servedIds = grown.map(_._2)
    assert(servedIds.forall(id => !(id >= 450L && id < 460L)),
      s"compacted vectors must not serve: $servedIds")
  }

  test("streaming posting-index maintenance: admitted docs' postings append per micro-batch; phrase search answers mid-stream from pruned buckets and finally equals a from-scratch index") {
    import spark.implicits._
    // the retrieval tier composed into the crawl the way the vector
    // tier is above: each micro-batch's ADMITTED docs (here a simple
    // length gate stands in for the trained gate — that loop is tested
    // separately) append their postings under the stored modulus.
    val root = tmpDir("postingstream")
    val spool = s"$root/spool"; val ckpt = s"$root/ckpt"
    val store = s"$root/idx"
    val phrase = "brown fox jumps"
    def doc(i: Int, hit: Boolean) =
      if (hit) s"the quick brown fox jumps over wall $i of the old town"
      else s"completely unrelated filler content number $i with many words"
    // bootstrap: docs 0..9, two of them phrase hits
    val boot = (0 until 10).map(i => (i.toLong, doc(i, i % 5 == 0)))
    graft.ops.PostingStore.write(boot.toDF("doc_id", "text"), "doc_id", "text",
      store, buckets = 32)

    val midStream = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    var prunedMidStream = false
    (10 until 20).map(i => (i.toLong, doc(i, i == 13)))
      .toDF("doc_id", "text").write.mode("append").parquet(spool)
    val q = spark.readStream.schema("doc_id LONG, text STRING").parquet(spool)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val admitted = batch.filter(length(col("text")) > 20)
          graft.ops.PostingStore.append(admitted, "doc_id", "text", store)
          val served = graft.ops.PostingStore.phraseSearchFromIndex(
            spark, store, phrase)
          midStream += served.collect().map(_.getLong(0)).toSet
          val plan = served.queryExecution.executedPlan.toString
          prunedMidStream |= plan.contains("PartitionFilters") && plan.contains(" IN (")
          ()
        }
      }
      .start()
    q.processAllAvailable()
    (20 until 30).map(i => (i.toLong, doc(i, i == 27)))
      .toDF("doc_id", "text").write.mode("append").parquet(spool)
    q.processAllAvailable()
    q.stop()

    assert(prunedMidStream, "mid-stream phrase serving must still bucket-prune")
    // the source may split an append into several micro-batches: views
    // must GROW monotonically and the last must see every admitted hit
    assert(midStream.size >= 2)
    midStream.sliding(2).foreach { w =>
      if (w.size == 2) assert(w(0).subsetOf(w(1)),
        s"index views must grow monotonically: $midStream")
    }
    assert(midStream.last == Set(0L, 5L, 13L, 27L),
      s"final view: ${midStream.last}")
    // final maintained index ≡ from-scratch build over everything
    val full = s"$root/full"
    val all = (0 until 10).map(i => (i.toLong, doc(i, i % 5 == 0))) ++
      (10 until 20).map(i => (i.toLong, doc(i, i == 13))) ++
      (20 until 30).map(i => (i.toLong, doc(i, i == 27)))
    graft.ops.PostingStore.write(all.toDF("doc_id", "text"), "doc_id", "text",
      full, buckets = 32)
    val grownM = graft.ops.PostingStore.phraseSearchFromIndex(spark, store, phrase)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val rebuiltM = graft.ops.PostingStore.phraseSearchFromIndex(spark, full, phrase)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(grownM == rebuiltM && grownM.nonEmpty)
  }
}
