package graft

import org.apache.spark.sql.functions._
import graft.ops.Extensions86

/** Batch-86 invariants: the first observed month is all-new revenue;
  * a returning customer's later order lands in the repeat bucket.
  */
class Extensions86Spec extends SparkSpec {

  test("x203 planted: new vs repeat buckets split exactly") {
    import spark.implicits._
    val rows = Seq(
      (1L, "2024-01-05", 100.0), (2L, "2024-01-20", 50.0),
      (1L, "2024-02-10", 80.0),   // repeat
      (3L, "2024-02-15", 30.0))   // new in feb
    val orders = rows.toDF("c", "d0", "v")
      .select(col("c"), to_timestamp(col("d0")).as("d"), col("v"))
    val out = Extensions86.repeatRevenueSplit(orders, "c", "d", "v")
      .collect().map(r => r.getString(0) -> r).toMap
    val jan = out("2024-01")
    assert(jan.getDouble(1) == 150.0 && jan.getDouble(2) == 150.0 &&
      jan.getDouble(3) == 0.0 && jan.getDouble(4) == 0.0)
    val feb = out("2024-02")
    assert(feb.getDouble(2) == 30.0 && feb.getDouble(3) == 80.0,
      s"user 1 repeats, user 3 is new: $feb")
    assert(feb.getDouble(4) == 0.7273, "80/110")
  }

  test("x203 fixture: revenue conserved, first month all-new") {
    val out = SparkEntry.queries("x203_repeat_revenue")(spark, sf0001)
      .collect().sortBy(_.getString(0))
    assert(out.nonEmpty)
    assert(out.head.getDouble(4) == 0.0, "the first observed month is all-new")
    out.foreach { r =>
      assert(math.abs(r.getDouble(1) - r.getDouble(2) - r.getDouble(3)) < 1e-9)
    }
  }
}
