package graft

import org.apache.spark.sql.functions._
import graft.ops.Extensions63

/** Batch-63 invariants: the threshold curve reads perfect precision on
  * clean plants and degrading recall as θ climbs past the plant
  * similarity; the mixture card's shares sum to 1 and its dup rate
  * counts planted copies exactly.
  */
class Extensions63Spec extends SparkSpec {

  test("x158 planted: exact-copy pairs are perfect at every threshold; misses count as fn") {
    import spark.implicits._
    val text = (1 to 60).map(i => s"tok$i").mkString(" ")
    val other = (100 to 160).map(i => s"word$i").mkString(" ")
    val docs = Seq(
      (1L, text), (2L, text),            // exact copies: jaccard 1.0
      (3L, other), (4L, (100 to 160).map(i => s"word$i").mkString(" ") + " x y z a b"))
      .toDF("doc_id", "text")
    // truth: (1,2) is real; (3,9) is a truth pair the detector can't see
    val truth = Seq((1L, 2L), (3L, 9L)).toDF("doc_a", "doc_b")
    val out = Extensions63.dedupThresholdCurve(docs, "doc_id", "text",
      truth, Seq(0.5, 0.9)).collect()
      .map(r => r.getDouble(0) -> r).toMap
    val t9 = out(0.9)
    assert(t9.getLong(2) == 1 && t9.getLong(4) == 1,
      s"tp = the copy pair, fn = the unseeable pair: $t9")
    assert(t9.getDouble(6) == 0.5, "recall 1/2")
    val t5 = out(0.5)
    // at 0.5 the (3,4) near pair may predict -> fp; tp unchanged
    assert(t5.getLong(2) == 1 && t5.getLong(3) >= t9.getLong(3))
  }

  test("x158 fixture: monotone predictions, planted copies dominate recall at 0.5") {
    val out = SparkEntry.queries("x158_threshold_curve")(spark, sf0001)
      .collect().sortBy(_.getDouble(0))
    assert(out.length == 7)
    val preds = out.map(_.getLong(1)).toSeq
    assert(preds.zip(preds.tail).forall { case (a, b) => a >= b },
      s"n_pred monotone non-increasing in threshold: $preds")
    val t5 = out.find(_.getDouble(0) == 0.5).get
    assert(t5.getDouble(6) > 0.9, s"appended-token copies sit above 0.5: $t5")
  }

  test("x159 planted: shares sum to 1; dup rate counts exact copies") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", "one two three"), (2L, "a", "one two three"),
      (3L, "a", "four five six"),
      (4L, "b", "seven eight nine ten"))
      .toDF("doc_id", "source", "text")
    val out = Extensions63.domainMixtureCard(docs, "source", "doc_id", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getLong(1) == 3 && out("b").getLong(1) == 1)
    assert(out("a").getDouble(2) == 0.75 && out("b").getDouble(2) == 0.25)
    assert(out("a").getDouble(6) == 0.3333, "one dup among three -> 1/3")
    assert(out("b").getDouble(6) == 0.0)
    assert(out("a").getLong(3) == 9L && out("b").getLong(3) == 4L,
      "token counts exact")
  }

  test("x159 fixture: complete partition, share totals 1 within rounding") {
    val out = SparkEntry.queries("x159_mixture_card")(spark, sf0001).collect()
    assert(out.length >= 2)
    assert(out.map(_.getLong(1)).sum == 500L)
    val shareSum = out.map(_.getDouble(2)).sum
    assert(math.abs(shareSum - 1.0) < 0.001, s"doc shares ~1: $shareSum")
    out.foreach { r =>
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
    }
  }
}
