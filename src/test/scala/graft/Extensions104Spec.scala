package graft

import org.apache.spark.sql.functions._
import graft.ops.Extensions104

/** Batch-104 invariants: OOV falls with vocab size and hits zero past
  * the type count; centroid drift reads identity on identical snapshots
  * and opposition on mirrored ones.
  */
class Extensions104Spec extends SparkSpec {

  test("oovCurve: monotone in vocab size, zero once vocab covers all types, instance-weighted") {
    import spark.implicits._
    // 'a' dominates instances: vocab 1 covers it, so OOV share drops hard
    val df = Seq((1L, "a a a a a a a a b b c d")).toDF("doc_id", "text")
    val got = Extensions104.oovCurve(df, "text", Seq(1L, 2L, 4L, 8L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 4L, 8L))
    assert(got.head._2 == 4L && got.head._4 == 12L)
    // rank 1 = 'a' (8 of 12 instances) -> oov = 4/12 = .3333
    assert(got(0)._3 == 4L && got(0)._5 == 0.3333, s"${got.mkString(",")}")
    assert(got(1)._3 == 2L, "vocab 2 admits 'b', leaving c+d = 2 instances")
    assert(got(2)._3 == 0L && got(2)._5 == 0.0, "vocab 4 covers all types")
    assert(got.map(_._3).sliding(2).forall(p => p(0) >= p(1)), "monotone")
  }

  test("centroidDrift: identical snapshots read cosine 1, mirrored snapshots read -1") {
    import spark.implicits._
    // label 0: even and odd rows share one direction -> cosine 1
    // label 1: odd rows are the negation -> cosine -1
    val rows =
      (0 until 8).map(i => (i.toLong, Array(1.0f, 2.0f, 3.0f), 0)) ++
      (0 until 8).map(i => (i.toLong,
        if (i % 2 == 0) Array(1.0f, 0.0f, 2.0f) else Array(-1.0f, 0.0f, -2.0f), 1))
    val df = rows.toDF("vec_id", "embedding", "label")
    val got = Extensions104.centroidDrift(df, "vec_id", "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toSeq.sortBy(_._1)
    assert(got.map(_._1) == Seq(0, 1))
    assert(got(0)._4 == 1.0 && got(0)._5 == 1.0, s"identical -> (1, 1): ${got(0)}")
    assert(got(1)._4 == -1.0, s"mirrored -> cosine -1: ${got(1)}")
    assert(got.forall(g => g._2 == 4L && g._3 == 4L))
  }

  test("x235/x237 fixtures: sane shapes") {
    val oov = SparkEntry.queries("x235_oov_curve")(spark, sf0001).collect()
      .sortBy(_.getLong(0))
    assert(oov.length == 6 && oov.map(_.getDouble(4)).sliding(2).forall(p => p(0) >= p(1)))
    val dr = SparkEntry.queries("x237_centroid_drift")(spark, sf0001).collect()
    assert(dr.length == 10, "one row per label")
    assert(dr.forall(r => r.getDouble(3) >= -1.0 && r.getDouble(3) <= 1.0))
  }
}
