package graft

import org.apache.spark.sql.functions._
import graft.ops.Extensions49

/** Batch-49 invariants: Heaps exponents at the two extremes (linear
  * growth β=1, saturation β=0), and LTV curve accounting (cohort
  * separation, cumulative monotonicity, per-member division).
  */
class Extensions49Spec extends SparkSpec {

  test("x129 planted: every doc mints new words -> beta 1, K 1, perfect fit") {
    import spark.implicits._
    val docs = (0 until 20).map(i =>
      (i.toLong, (0 until 5).map(j => s"w${i}_$j").mkString(" ")))
      .toDF("doc_id", "text")
    val r = Extensions49.heapsFit(docs, "doc_id", "text").collect().head
    assert(r.getLong(1) == 100L && r.getLong(2) == 100L)
    assert(math.abs(r.getDouble(3) - 1.0) < 0.01, s"beta ~ 1: $r")
    assert(math.abs(r.getDouble(4) - 1.0) < 0.05, s"K ~ 1: $r")
    assert(r.getDouble(5) > 0.999, s"log-log line is exact: $r")
  }

  test("x129 planted: fixed vocabulary -> beta 0, K = vocab, r2 undefined") {
    import spark.implicits._
    val docs = (0 until 20).map(i => (i.toLong, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val r = Extensions49.heapsFit(docs, "doc_id", "text").collect().head
    assert(r.getLong(2) == 3L)
    assert(r.getDouble(3) == 0.0 && r.getDouble(4) == 3.0)
    assert(r.isNullAt(5), "zero vocab variance -> r2 NULL, not a crash")
  }

  test("x129 fixture: the synthetic corpus saturates (the 31-word vocabulary)") {
    val r = SparkEntry.queries("x129_heaps_fit")(spark, sf0001).collect().head
    assert(r.getLong(0) == 10L)
    assert(r.getLong(2) == 31L && r.getDouble(3) == 0.0 && r.getDouble(4) == 31.0)
  }

  test("x130 planted: two cohorts, exact curves and per-member division") {
    import spark.implicits._
    // cohort W1: users 1,2 (first event Jan 1 week); cohort W2: user 3
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 10.0), (1L, "2024-01-09 10:00:00", 20.0),
      (2L, "2024-01-02 10:00:00", 30.0),
      (3L, "2024-01-09 12:00:00", 40.0), (3L, "2024-01-16 12:00:00", 2.0))
      .toDF("user_id", "ts0", "value")
      .select(col("user_id"), to_timestamp(col("ts0")).as("ts"), col("value"))
    val out = Extensions49.cohortLtv(rows, "user_id", "ts", "value", "week")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).sortBy(o => (o._1, o._2))
    assert(out.toSeq == Seq(
      ("2024-01-01", 0L, 2L, 40.0, 40.0, 20.0),
      ("2024-01-01", 1L, 2L, 20.0, 60.0, 30.0),
      ("2024-01-08", 0L, 1L, 40.0, 40.0, 40.0),
      ("2024-01-08", 1L, 1L, 2.0, 42.0, 42.0)), s"got: ${out.toSeq}")
  }

  test("x130 fixture: cumulative revenue is non-decreasing and ltv = cum/users") {
    val out = SparkEntry.queries("x130_cohort_ltv")(spark, sf0001).collect()
    assert(out.nonEmpty)
    out.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(b.getDouble(4) >= a.getDouble(4), "cum_revenue monotone")
        assert(b.getDouble(4) - a.getDouble(4) - b.getDouble(3) < 1e-6,
          "cum increments by revenue")
      }
      rows.foreach { r =>
        assert(math.abs(r.getDouble(5) - r.getDouble(4) / r.getLong(2)) <= 1e-4,
          s"ltv is per-member: $r")
      }
    }
  }
}
