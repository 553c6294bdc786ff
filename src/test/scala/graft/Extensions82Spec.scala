package graft

import org.apache.spark.sql.functions._
import graft.ops.Extensions82

/** Batch-82 invariants: stickiness reads 1.0 for daily users and 1/n
  * for drive-bys; the activity curve's histogram and right tail are
  * exact.
  */
class Extensions82Spec extends SparkSpec {

  private def ev(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("user_id", "ts0")
      .select(col("user_id"), to_timestamp(col("ts0")).as("ts"))
  }

  test("x196 planted: everyone-every-day reads 1.0; a drive-by dilutes exactly") {
    // week of Mon 2024-03-04: users 1,2 active Mon-Wed (3 days);
    // user 3 active Mon only
    val rows = for {
      d <- Seq("04", "05", "06"); u <- Seq(1L, 2L)
    } yield (u, s"2024-03-$d 10:00:00")
    val all = rows ++ Seq((3L, "2024-03-04 11:00:00"))
    val out = Extensions82.stickiness(ev(all: _*), "user_id", "ts")
      .collect().head
    assert(out.getLong(1) == 3 && out.getLong(2) == 7 && out.getLong(3) == 3)
    // stickiness = 7/(3*3) = 0.7778
    assert(out.getDouble(4) == 0.7778, s"$out")
  }

  test("x197 planted: exact histogram with a monotone right tail") {
    // 3 users active 1 day, 2 users 2 days, 1 user 3 days
    val rows =
      Seq((1L, "01"), (2L, "01"), (3L, "01")) ++
        Seq((4L, "01"), (4L, "02"), (5L, "01"), (5L, "02")) ++
        Seq((6L, "01"), (6L, "02"), (6L, "03"))
    val ev2 = ev(rows.map { case (u, d) => (u, s"2024-03-$d 10:00:00") }: _*)
    val out = Extensions82.activityFrequencyCurve(ev2, "user_id", "ts")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 3 && out(2L).getLong(1) == 2 &&
      out(3L).getLong(1) == 1)
    assert(out(1L).getDouble(2) == 0.5)
    assert(out(1L).getDouble(3) == 1.0, "at least 1 day = everyone")
    assert(out(2L).getDouble(3) == 0.5 && out(3L).getDouble(3) == 0.1667)
  }

  test("x196/x197 fixtures: ratios bounded; curve conserves users") {
    val st = SparkEntry.queries("x196_stickiness")(spark, sf0001).collect()
    assert(st.nonEmpty)
    st.foreach(r => assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0))
    val cv = SparkEntry.queries("x197_activity_curve")(spark, sf0001)
      .collect().sortBy(_.getLong(0))
    assert(cv.map(_.getLong(1)).sum == 15L)
    val tails = cv.map(_.getDouble(3)).toSeq
    assert(tails.zip(tails.tail).forall { case (a, b) => b <= a },
      "right tail monotone non-increasing in k")
  }
}
