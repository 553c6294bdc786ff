package graft

import org.apache.spark.sql.functions._
import graft.ops.Extensions51

/** Batch-51 invariants: the BH step-up rescues below-threshold ranks
  * under the max-k rule, boundary equality counts, and QTE reads a
  * planted constant shift exactly.
  */
class Extensions51Spec extends SparkSpec {

  private def pv(rows: Seq[(String, Double)]) = {
    import spark.implicits._
    rows.toDF("key", "p")
  }

  test("x134 planted: step-up discovers rank 3 even though it fails its own critical") {
    val out = Extensions51.bhCorrect(
      pv(Seq("a" -> 0.01, "b" -> 0.015, "c" -> 0.035, "d" -> 0.04, "e" -> 0.8)),
      "key", "p").collect()
    // criticals .01/.02/.03/.04/.05: rank 3 (.035 > .03) fails alone but
    // rank 4 qualifies -> everything through rank 4 is discovered
    val disc = out.map(r => (r.getString(0), r.getBoolean(4))).toMap
    assert(disc == Map("a" -> true, "b" -> true, "c" -> true, "d" -> true,
      "e" -> false), s"got $disc")
  }

  test("x134 planted: exact boundary equality is a discovery; all-high is none") {
    val one = Extensions51.bhCorrect(pv(Seq("x" -> 0.05)), "key", "p").collect()
    assert(one.head.getBoolean(4), "p == alpha at m=1 qualifies (<=)")
    val none = Extensions51.bhCorrect(
      pv(Seq("x" -> 0.51, "y" -> 0.92)), "key", "p").collect()
    assert(none.forall(!_.getBoolean(4)))
  }

  test("x134 fixture: the A/A split discovers nothing; ranks contiguous") {
    val out = SparkEntry.queries("x134_msprt_bh")(spark, sf0001).collect()
      .sortBy(_.getLong(2))
    assert(out.length == 5)
    assert(out.map(_.getLong(2)).toSeq == (1L to 5L).toSeq)
    assert(out.forall(!_.getBoolean(4)),
      "md5 A/A assignment must not produce discoveries")
  }

  test("x135 planted: a constant +5.00 treatment shift reads 5.0 at every decile") {
    import spark.implicits._
    def arm(u: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(u.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) "control" else "treatment"
    }
    val rows = (1L to 40L).map { u =>
      val v = if (arm(u) == "control") 10.0 else 15.0
      (u, "2024-02-01 00:00:00", v)
    }
    val ev = rows.toDF("user_id", "ts0", "value")
      .select(col("user_id"), to_timestamp(col("ts0")).as("ts"), col("value"))
    val out = Extensions51.quantileTreatmentEffects(ev, "user_id", "ts",
      "value", "2024-01-16 00:00:00").collect()
    assert(out.length == 9)
    out.foreach { r =>
      assert(r.getDouble(1) == 1000.0 && r.getDouble(2) == 1500.0)
      assert(r.getDouble(3) == 5.0, s"constant shift: $r")
    }
  }

  test("x135 fixture: deciles are monotone within each arm; qte consistent") {
    val out = SparkEntry.queries("x135_qte")(spark, sf0001).collect()
    assert(out.map(_.getLong(0)).toSeq == (1L to 9L).map(_ * 10L).toSeq)
    out.zip(out.tail).foreach { case (a, b) =>
      assert(b.getDouble(1) >= a.getDouble(1) && b.getDouble(2) >= a.getDouble(2),
        "quantiles are non-decreasing")
    }
    out.foreach { r =>
      assert(math.abs(r.getDouble(3)
        - (r.getDouble(2) - r.getDouble(1)) / 100.0) <= 1e-4)
    }
  }
}
