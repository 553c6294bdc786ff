package graft

import org.apache.spark.sql.functions._
import graft.log.EventLog
import graft.state.Materialize
import graft.ops.Extensions107
import graft.model.Event

/** Batch-107 invariants: the as-of read reproduces history exactly; the
  * erasure rewrite leaves survivors bit-identical and the erased id
  * traceless; the watermark planner's drop counts are monotone in the
  * delay and zero on an in-order stream.
  */
class Extensions107Spec extends SparkSpec {

  private def mkEvents(rows: Seq[(Long, String, Long)]) = {
    import spark.implicits._
    rows.map { case (id, name, v) =>
      Event(id, name, v, new java.sql.Timestamp(1700000000000L + v * 1000L),
        s"""{"v":$v}""")
    }.toDS()
  }

  test("asOfState: prefix replay == snapshot at the bound; max bound == latestState") {
    import spark.implicits._
    val ev = mkEvents(Seq(
      (1L, "PlayerCreated", 1L), (1L, "PlayerUpdated", 2L), (1L, "PlayerUpdated", 3L),
      (2L, "PlayerCreated", 1L), (2L, "PlayerUpdated", 2L))).toDF()
    val at2 = Materialize.asOfState(ev, "id", "version", lit(2L))
      .select(col("id"), col("version")).as[(Long, Long)].collect().toMap
    assert(at2 == Map(1L -> 2L, 2L -> 2L), "state as of version 2")
    val atMax = Materialize.asOfState(ev, "id", "version", lit(3L))
      .collect().map(_.toSeq).toSet
    val live = Materialize.latestState(ev, "id", "version")
      .collect().map(_.toSeq).toSet
    assert(atMax == live, "bound at the head == the live read model")
    // replay consistency: fold of the physical prefix == the as-of read
    val prefix = Materialize.latestState(ev.filter(col("version") <= 2), "id", "version")
      .collect().map(_.toSeq).toSet
    assert(Materialize.asOfState(ev, "id", "version", lit(2L))
      .collect().map(_.toSeq).toSet == prefix)
  }

  test("forget: survivors' read model bit-identical, erased id traceless, fresh-dir discipline") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("forget").toString
    val log = s"$dir/log"
    val ev = mkEvents(Seq(
      (1L, "PlayerCreated", 1L), (1L, "PlayerUpdated", 2L),
      (2L, "PlayerCreated", 1L), (2L, "PlayerDeleted", 2L),
      (3L, "PlayerCreated", 1L)))
    EventLog.append(ev, log)
    val out1 = s"$dir/out1"
    val (before, dropped, after) =
      EventLog.forget(spark, log, out1, Seq(2L).toDF("id"))
    assert((before, dropped, after) == ((5L, 2L, 3L)))
    assert(EventLog.scan(spark, out1).filter(col("id") === 2L).count() == 0,
      "no trace of the erased aggregate, tombstones included")
    val pre = Materialize.findAll(EventLog.scan(spark, log).toDF()
        .filter(col("id") =!= 2L)).collect().map(_.toSeq).toSeq
    val post = Materialize.findAll(EventLog.scan(spark, out1).toDF())
      .collect().map(_.toSeq).toSeq
    assert(pre == post, "survivors' read model must be bit-identical")
    // idempotent: forgetting again drops nothing
    val out2 = s"$dir/out2"
    val (_, dropped2, _) = EventLog.forget(spark, out1, out2, Seq(2L).toDF("id"))
    assert(dropped2 == 0L)
    // fresh-directory discipline, like compact
    intercept[IllegalArgumentException] {
      EventLog.forget(spark, log, out1, Seq(1L).toDF("id"))
    }
  }

  test("watermarkPlan: zero drops on an in-order stream, monotone non-increasing in the delay") {
    import spark.implicits._
    val inOrder = (0L until 200L)
      .map(i => (i, new java.sql.Timestamp(1700000000000L + i * 60000L)))
      .toDF("arrival", "ts")
    val clean = Extensions107.watermarkPlan(inOrder, "arrival", "ts", 50L, Seq(0L, 10L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clean.values.forall(_ == 0L), s"in-order stream never drops: $clean")
    // plant one straggler: event-time of arrival 0, arriving at position 199
    val late = inOrder.unionByName(
      Seq((199L, new java.sql.Timestamp(1700000000000L))).toDF("arrival", "ts"))
    val got = Extensions107.watermarkPlan(late, "arrival", "ts", 50L,
      Seq(0L, 60L, 500L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(got.head._2 == 1L, s"the straggler drops at delay 0: $got")
    assert(got.map(_._2).sliding(2).forall(p => p(0) >= p(1)), "monotone")
    assert(got.last._2 == 0L, "a 500-minute watermark keeps a ~199-minute straggler")
  }

  test("x244/x245/x246 fixtures: sane shapes") {
    val as = SparkEntry.queries("x244_asof_state")(spark, sf0001).collect()
    assert(as.nonEmpty && as.forall(_.getLong(1) <= 499L),
      "no aggregate reads past the bound")
    val ec = SparkEntry.queries("x245_erasure_certificate")(spark, sf0001).collect()
    assert(ec.map(_.getLong(1)).sum == 1000L &&
      ec.forall(r => r.getLong(3) == r.getLong(1) - r.getLong(2)))
    val wm = SparkEntry.queries("x246_watermark_plan")(spark, sf0001).collect()
      .sortBy(_.getLong(0))
    assert(wm.length == 5 && wm.head.getLong(1) > 0L,
      "the planted stragglers must register at delay 0")
    assert(wm.map(_.getLong(1)).sliding(2).forall(p => p(0) >= p(1)))
  }
}
