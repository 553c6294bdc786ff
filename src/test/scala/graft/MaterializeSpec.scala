package graft

import java.sql.Timestamp
import graft.model.Event
import graft.log.EventLog
import graft.state.Materialize

/** The reference's single E2E test, `PlayerResourceIT.crud()`
  * (PlayerResourceIT.java:109-190), transliterated to data operations
  * (SURVEY §5.2.2), plus ScalaCheck properties the REST test could never
  * express (§5.2.4).
  */
class MaterializeSpec extends SparkSpec {

  private def ts(s: Long) = new Timestamp(1700000000000L + s * 1000)

  private def payload(first: String, last: String) =
    s"""{"firstName":"$first","lastName":"$last"}"""

  /** FIXTURES.md A.3: create → update → (second aggregate) → duplicate
    * redelivery → delete → delete of absent id.
    */
  private val crudFixture: Seq[Event] = Seq(
    Event(1, "PlayerCreated", 0, ts(0), payload("Robert", "Brem")),
    Event(1, "PlayerUpdated", 1, ts(1), payload("Robertupdated", "Bremupdated")),
    Event(2, "PlayerCreated", 0, ts(0), payload("Other", "Player")),
    // duplicate redelivery of the update (tests A2 PK dedup)
    Event(1, "PlayerUpdated", 1, ts(1), payload("Robertupdated", "Bremupdated")),
    // delete of an id that never existed (IT:174-179 — must be harmless)
    Event(-42, "PlayerDeleted", 0, ts(2), "{}"))

  test("crud: create then update => latest state visible (IT:148-161)") {
    import spark.implicits._
    val state = Materialize.findAll(crudFixture.toDS.toDF).collect()
    assert(state.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    val p1 = state.find(_.getLong(0) == 1L).get
    assert(p1.getString(1) == "Robertupdated" && p1.getString(2) == "Bremupdated")
  }

  test("crud: findById touches only the requested aggregate (IT:131-139)") {
    import spark.implicits._
    val row = Materialize.findById(crudFixture.toDS.toDF, 2).collect()
    assert(row.length == 1 && row.head.getString(1) == "Other")
  }

  test("crud: delete tombstones the aggregate out of findAll (IT:182-188)") {
    import spark.implicits._
    val events = crudFixture :+ Event(1, "PlayerDeleted", 2, ts(3), "{}")
    val state = Materialize.findAll(events.toDS.toDF).collect()
    assert(state.map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("crud: delete of a non-existent id is harmless (IT:174-179)") {
    import spark.implicits._
    val without = Materialize.findAll(crudFixture.filter(_.id != -42).toDS.toDF).collect()
    val withDel = Materialize.findAll(crudFixture.toDS.toDF).collect()
    assert(without.toSeq == withDel.toSeq)
  }

  test("crud: create allocates the next ids past the existing log (M1, IT:123-128)") {
    import spark.implicits._
    val existing = crudFixture.toDS()
    val creates = Seq(("Ada", "L"), ("Grace", "H")).toDF("firstName", "lastName")
    val assigned = EventLog.allocateIds(creates, existing, "firstName")
      .collect().map(r => r.getAs[String]("firstName") -> r.getAs[Long]("id")).toMap
    // max existing id is 2; batch ordered by firstName: Ada -> 3, Grace -> 4
    assert(assigned == Map("Ada" -> 3L, "Grace" -> 4L))
    // empty log starts at 1
    val fresh = EventLog.allocateIds(creates, spark.emptyDataset[Event], "firstName")
      .collect().map(_.getAs[Long]("id")).toSet
    assert(fresh == Set(1L, 2L))
  }

  test("event log round-trip preserves the fold result") {
    import spark.implicits._
    val dir = tmpDir("eventlog")
    EventLog.append(crudFixture.toDS, s"$dir/log", numPartitions = 2)
    val replayed = Materialize.findAll(EventLog.scan(spark, s"$dir/log").toDF).collect()
    val direct = Materialize.findAll(crudFixture.toDS.toDF).collect()
    assert(replayed.toSeq == direct.toSeq)
  }

  // ---- randomized fold properties (SURVEY §5.2.4), seeded for determinism -

  private def randomEvents(rnd: scala.util.Random, n: Int): Seq[Event] = {
    val kinds = Seq("PlayerCreated", "PlayerUpdated", "PlayerDeleted")
    (0 until n).map { _ =>
      val v = rnd.nextInt(7).toLong
      Event(1L + rnd.nextInt(5), kinds(rnd.nextInt(3)), v, ts(v),
        payload("f" + rnd.nextInt(100), "l" + rnd.nextInt(100)))
    }
  }

  private def stateOf(events: Seq[Event]): Set[(Long, String, String)] = {
    import spark.implicits._
    if (events.isEmpty) Set.empty
    else Materialize.playerState(events.toDS.toDF)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
  }

  test("event log round-trips through JSONL and CSV with pinned schemas (source-format breadth)") {
    import spark.implicits._
    val events = crudFixture.toDS()
    val expected = Materialize.latestState(events.toDF(), "id", "version")
      .collect().map(_.getLong(0)).sorted.toSeq

    val jsonDir = tmpDir("log_jsonl")
    events.write.mode("overwrite").json(jsonDir)
    val fromJson = spark.read.schema(graft.model.Schemas.event).json(jsonDir)
    assert(Materialize.latestState(fromJson, "id", "version")
      .collect().map(_.getLong(0)).sorted.toSeq == expected)

    val csvDir = tmpDir("log_csv")
    events.write.mode("overwrite").option("header", "true").csv(csvDir)
    val fromCsv = spark.read.schema(graft.model.Schemas.event)
      .option("header", "true").csv(csvDir)
    assert(Materialize.latestState(fromCsv, "id", "version")
      .collect().map(_.getLong(0)).sorted.toSeq == expected)

    // ORC: the other columnar format Spark ships natively; verify the
    // round-trip AND that predicate pushdown reaches the ORC scan
    val orcDir = tmpDir("log_orc")
    events.write.mode("overwrite").orc(orcDir)
    val fromOrc = spark.read.orc(orcDir)
    assert(Materialize.latestState(fromOrc, "id", "version")
      .collect().map(_.getLong(0)).sorted.toSeq == expected)
    val filtered = fromOrc.filter(org.apache.spark.sql.functions.col("id") === 1L)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,1)]"),
      s"ORC scan must receive the id predicate:\n$scan")

    // XML: built into spark-sql since Spark 4 — the interchange format
    // enterprise event feeds still arrive in; same pinned-schema
    // discipline (rowTag per event, never inference)
    val xmlDir = tmpDir("log_xml")
    events.write.mode("overwrite").format("xml")
      .option("rootTag", "events").option("rowTag", "event").save(xmlDir)
    val fromXml = spark.read.schema(graft.model.Schemas.event)
      .format("xml").option("rowTag", "event").load(xmlDir)
    assert(Materialize.latestState(fromXml, "id", "version")
      .collect().map(_.getLong(0)).sorted.toSeq == expected)
  }

  test("incremental snapshot merge rewrites only touched buckets and equals the full fold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tmpDir("snapshot_merge")
    val nb = 8
    // initial population: ids 1..6 across buckets
    val initial = (1L to 6L).map(i => Event(i, "PlayerCreated", 0, ts(i), payload(s"F$i", s"L$i")))
    val w1 = EventLog.mergeSnapshot(initial.toDF(), dir, nb)
    assert(w1 == (1L to 6L).map(i => (i % nb).toInt).toSet)
    // incremental batch touches only id=3 (bucket 3)
    import graft.ops.StoreManifest
    val filesBefore = StoreManifest.files(spark, dir).toSet
    val w2 = EventLog.mergeSnapshot(
      Seq(Event(3, "PlayerUpdated", 1, ts(10), payload("New", "Name"))).toDF(), dir, nb)
    assert(w2 == Set(3), s"rewrote $w2")
    // files outside bucket=3 carry over into the new manifest untouched;
    // bucket=3's state moved to a fresh immutable batch
    val filesAfter = StoreManifest.files(spark, dir).toSet
    def bucketOf(f: String) = StoreManifest.partValueOf(f, "bucket").get
    assert(filesBefore.filter(bucketOf(_) != "3") ==
      filesAfter.filter(bucketOf(_) != "3"),
      "untouched buckets must keep their exact files across a merge")
    assert(filesBefore.filter(bucketOf(_) == "3")
      .intersect(filesAfter.filter(bucketOf(_) == "3")).isEmpty,
      "the touched bucket's state must land in a fresh batch")
    // snapshot equals the from-scratch fold over the whole log
    val all = (initial :+ Event(3, "PlayerUpdated", 1, ts(10), payload("New", "Name"))).toDF()
    val expected = Materialize.latestState(all, "id", "version")
      .select($"id", $"version").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = EventLog.readSnapshot(spark, dir)
      .select($"id", $"version").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected, s"$got != $expected")
  }

  test("property: replay order never matters (fold orders by version)") {
    val rnd = new scala.util.Random(42)
    (1 to 8).foreach { _ =>
      // PK-distinct so permutations can't change which payload wins a PK slot
      val events = randomEvents(rnd, 10)
        .groupBy(e => (e.id, e.name, e.version)).values.map(_.head).toSeq
      assert(stateOf(events) == stateOf(rnd.shuffle(events)))
    }
  }

  test("property: duplicate delivery is idempotent (latestState(log++log)==latestState(log))") {
    val rnd = new scala.util.Random(7)
    (1 to 8).foreach { _ =>
      val events = randomEvents(rnd, 8)
      assert(stateOf(events) == stateOf(events ++ events))
    }
  }

  test("mergeSnapshot refuses a bucket-modulus mismatch (stale-bucket guard)") {
    import spark.implicits._
    val dir = tmpDir("snapshot_guard")
    EventLog.mergeSnapshot(
      Seq(Event(1, "PlayerCreated", 0, ts(0), payload("A", "B"))).toDF(), dir, numBuckets = 8)
    val e = intercept[IllegalArgumentException] {
      EventLog.mergeSnapshot(
        Seq(Event(2, "PlayerCreated", 0, ts(1), payload("C", "D"))).toDF(), dir, numBuckets = 16)
    }
    assert(e.getMessage.contains("numBuckets"))
    // matching modulus still merges fine after the failed attempt
    EventLog.mergeSnapshot(
      Seq(Event(2, "PlayerCreated", 0, ts(1), payload("C", "D"))).toDF(), dir, numBuckets = 8)
    assert(EventLog.readSnapshot(spark, dir).select("id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("mergeSnapshot crash/legacy windows: every torn state re-opens loudly or correctly") {
    import spark.implicits._
    def ev(id: Long, v: Long) = Event(id, "PlayerCreated", v, ts(id), payload(s"F$id", s"L$id"))
    // (a) old-protocol crash artifact: a sidecar with NO data. The retry
    // must see a first merge, not a corrupt snapshot.
    val a = tmpDir("crash_sidecar_only")
    new java.io.File(a).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a, "_graft_buckets"), "8")
    EventLog.mergeSnapshot(Seq(ev(1, 0), ev(2, 0)).toDF(), a, numBuckets = 8)
    assert(EventLog.readSnapshot(spark, a).select("id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))

    // (d) the manifest protocol's ONLY crash window: a batch dir written
    // but never published (crash before the manifest rename). It must be
    // invisible to reads and harmless to the next merge.
    val d = tmpDir("crash_orphan_batch")
    EventLog.mergeSnapshot(Seq(ev(1, 0)).toDF(), d, numBuckets = 8)
    Seq(ev(9, 99)).toDF()
      .withColumn("bucket", org.apache.spark.sql.functions.lit(1))
      .write.partitionBy("bucket").parquet(s"$d/batch=000099-orphan")
    assert(EventLog.readSnapshot(spark, d).select("id")
      .collect().map(_.getLong(0)).toSet == Set(1L),
      "an unpublished batch must be invisible")
    EventLog.mergeSnapshot(Seq(ev(2, 0)).toDF(), d, numBuckets = 8)
    val ids = EventLog.readSnapshot(spark, d).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L), s"orphan rows leaked into the snapshot: $ids")
  }

  test("a reader racing a merge sees pre- or post-state, never a torn bucket mix") {
    import spark.implicits._
    def ev(id: Long, v: Long) = Event(id, "PlayerCreated", v, ts(id), payload(s"F$id", s"L$id"))
    val dir = tmpDir("merge_race")
    // seed: 16 ids across all 8 buckets at version 0
    EventLog.mergeSnapshot((1L to 16L).map(ev(_, 0)).toDF(), dir, numBuckets = 8)
    def state(): Map[Long, Long] =
      EventLog.readSnapshot(spark, dir).select("id", "version")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pre = state()
    val post = pre.map { case (id, _) => id -> 1L }
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[Map[Long, Long]]()
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      try while (!stop.get()) observed.add(state())
      catch { case t: Throwable => failures.add(t) }
    })
    reader.start()
    // the merge bumps EVERY id to version 1 — it touches all 8 buckets, so
    // any torn observation would mix version-0 and version-1 buckets
    try EventLog.mergeSnapshot((1L to 16L).map(ev(_, 1)).toDF(), dir, numBuckets = 8)
    finally { stop.set(true); reader.join(120000) }
    observed.add(state())
    assert(failures.isEmpty, s"reader crashed mid-merge: ${failures.peek()}")
    import scala.jdk.CollectionConverters._
    observed.asScala.zipWithIndex.foreach { case (o, i) =>
      assert(o == pre || o == post, s"read $i saw a torn bucket mix: $o")
    }
    assert(observed.asScala.last == post)
  }

  test("allocateIds is deterministic when orderCol ties (stable whole-row tiebreak)") {
    import spark.implicits._
    val creates = Seq(("Same", "Alpha"), ("Same", "Beta"), ("Same", "Gamma"), ("Other", "Delta"))
      .toDF("firstName", "lastName")
    def assign() = EventLog.allocateIds(creates, spark.emptyDataset[Event], "firstName")
      .collect().map(r => r.getAs[String]("lastName") -> r.getAs[Long]("id")).toMap
    val first = assign()
    (1 to 3).foreach(_ => assert(assign() == first))
    assert(first.values.toSet == Set(1L, 2L, 3L, 4L))
    assert(first("Delta") == 1L) // "Other" < "Same": orderCol still leads
  }

  test("log compaction: latestState and playerState agree pre/post; tombstone drop removes dead aggregates; replay shrinks to O(live)") {
    import spark.implicits._
    val root = tmpDir("compaction")
    val log = s"$root/log"; val out = s"$root/compacted"
    val outDrop = s"$root/compacted_drop"
    // 3 aggregates x deep histories + a deleted one + redeliveries
    val history = (1L to 3L).flatMap { id =>
      (0L to 9L).map(v => Event(id, if (v == 0) "PlayerCreated" else "PlayerUpdated",
        v, ts(v), payload(s"F$id-$v", s"L$id-$v")))
    } ++ Seq(
      Event(4L, "PlayerCreated", 0, ts(0), payload("Dead", "Gone")),
      Event(4L, "PlayerDeleted", 1, ts(1), "{}"),
      // duplicate redelivery (PK dedup must collapse before the keep)
      Event(1L, "PlayerUpdated", 9, ts(9), payload("F1-9", "L1-9")))
    EventLog.append(history.toDS(), log)
    val (before, after) = EventLog.compact(spark, log, out)
    assert(before == history.length.toLong)
    assert(after == 4L, s"one event per aggregate: $after")
    // the read-model contract survives compaction exactly
    val full = Materialize.findAll(EventLog.scan(spark, log).toDF()).collect().toSeq
    val comp = Materialize.findAll(EventLog.scan(spark, out).toDF()).collect().toSeq
    assert(comp == full, s"compaction changed the read model: $comp vs $full")
    // tombstone retention drop: the dead aggregate vanishes from the log
    val (_, afterDrop) = EventLog.compact(spark, log, outDrop, dropTombstones = true)
    assert(afterDrop == 3L)
    val ids = EventLog.scan(spark, outDrop).select("id")
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L))
    assert(Materialize.findAll(EventLog.scan(spark, outDrop).toDF())
      .collect().toSeq == full)
  }
}
