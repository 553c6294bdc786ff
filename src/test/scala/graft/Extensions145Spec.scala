package graft

import org.apache.spark.sql.functions._
import graft.ops.Extensions145

/** Batch-145 invariants: the JL card is exactly distortion-free when
  * k equals the (effectively one-dimensional) data, and excludes
  * duplicate pairs; mutual-best matching resolves a hand-built pool
  * with the expected rounds and never double-assigns a node.
  */
class Extensions145Spec extends SparkSpec {

  test("jlProjectionCard: one-hot data along a single axis keeps exact ratios") {
    import spark.implicits._
    // vectors differ only in component 1: d2o = (a1-b1)^2; projected
    // y_j = s(j,1)*x1 (+ constant contributions from equal components)
    // -> d2p = sum_j (s(j,1)*(a1-b1))^2 = k*d2o -> ratio exactly 1e6
    val vs = Seq((1L, Seq(1.0f, 0.5f, 0.5f)), (2L, Seq(3.0f, 0.5f, 0.5f)),
      (3L, Seq(7.0f, 0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val r = Extensions145.jlProjectionCard(vs, "vec_id", "embedding",
      kDims = 4, sampleCap = 3).head
    assert(r.getLong(1) == 3L, s"3 pairs: $r")
    assert(r.getLong(2) == 1000000L && r.getLong(3) == 1000000L &&
      r.getLong(4) == 1000000L, s"axis-aligned data is distortion-free: $r")
  }

  test("jlProjectionCard: exact-duplicate pairs are excluded") {
    import spark.implicits._
    val vs = Seq((1L, Seq(1.0f, 2.0f)), (2L, Seq(1.0f, 2.0f)),
      (3L, Seq(5.0f, 1.0f))).toDF("vec_id", "embedding")
    val r = Extensions145.jlProjectionCard(vs, "vec_id", "embedding",
      kDims = 2, sampleCap = 3).head
    assert(r.getLong(1) == 2L, s"the (1,2) duplicate pair drops: $r")
  }

  test("oneToOneMatch: hand pool resolves in two rounds, no node reused") {
    import spark.implicits._
    // l1 and l2 both prefer r1 (l1 wins on score); l2 falls back to r2
    // in round 2. l3-r3 is mutual immediately.
    val pool = Seq((1L, 1L, 900L), (2L, 1L, 800L), (2L, 2L, 500L),
      (3L, 3L, 700L)).toDF("l", "r", "s")
    val got = Extensions145.oneToOneMatch(pool, "l", "r", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(g => (g._1, g._2))
    assert(got.toSeq == Seq((1L, 1L, 900L, 1L), (2L, 2L, 500L, 2L),
      (3L, 3L, 700L, 1L)), s"${got.toSeq}")
    val lefts = got.map(_._1); val rights = got.map(_._2)
    assert(lefts.distinct.length == lefts.length &&
      rights.distinct.length == rights.length, "one-to-one")
  }

  test("oneToOneMatch: the round cap leaves a conflicted tail unmatched") {
    import spark.implicits._
    // a chain where each round frees exactly one more pair: with
    // rounds=1 only the mutual-best head matches
    val pool = Seq((1L, 1L, 900L), (2L, 1L, 850L), (2L, 2L, 840L),
      (3L, 2L, 830L), (3L, 3L, 820L)).toDF("l", "r", "s")
    val one = Extensions145.oneToOneMatch(pool, "l", "r", "s", rounds = 1)
    assert(one.count() == 1L, "round 1 matches only (1,1)")
    val all = Extensions145.oneToOneMatch(pool, "l", "r", "s", rounds = 4)
    assert(all.count() == 3L, "enough rounds drain the chain")
  }
}
