package graft

import org.apache.spark.sql.functions._
import graft.ops.Extensions54

/** Batch-54 invariants: PAV reproduces isotonic data exactly, pools
  * violators to the weighted mean, and always emits a monotone map;
  * chi-square ranks a perfect predictor token on top and scores an
  * independent token zero.
  */
class Extensions54Spec extends SparkSpec {

  /** Margins chosen so sigmoid permilles are distinct per group:
    * margin = ln(p/(1-p))·1e6 would be exact; simpler: use well-spread
    * micro-margins whose permilles differ.
    */
  private def scoredOf(groups: Seq[(Long, Seq[Int])]) = {
    import spark.implicits._
    groups.flatMap { case (margin, labels) => labels.map(y => (margin, y)) }
      .toDF("margin_micro", "label")
  }

  test("x140 planted: already-isotonic data is a fixed point (iso == raw)") {
    val df = scoredOf(Seq(
      (-2000000L, Seq(1, 0, 0, 0, 0)),   // rate 0.2
      (0L, Seq(1, 1, 0, 0)),             // rate 0.5
      (2000000L, Seq(1, 1, 1, 1, 0))))   // rate 0.8
    val out = Extensions54.isotonicCalibrate(df, "margin_micro", "label")
      .collect().sortBy(_.getLong(0))
    assert(out.length == 3)
    out.foreach(r => assert(r.getDouble(3) == r.getDouble(4),
      s"fixed point: $r"))
    assert(out.map(_.getDouble(4)).toSeq == Seq(0.2, 0.5, 0.8))
  }

  test("x140 planted: adjacent violators pool to the weighted mean") {
    // low score rate 1.0 (n=1), high score rate 0.0 (n=3):
    // pooled block mean = 1/4 on both grid points
    val df = scoredOf(Seq((-2000000L, Seq(1)), (2000000L, Seq(0, 0, 0))))
    val out = Extensions54.isotonicCalibrate(df, "margin_micro", "label")
      .collect().sortBy(_.getLong(0))
    assert(out.length == 2)
    assert(out.forall(_.getDouble(4) == 0.25), s"weighted pool: ${out.toSeq}")
  }

  test("x140 planted: partial violation pools only the violating block") {
    val df = scoredOf(Seq(
      (-3000000L, Seq(0, 0, 0, 0, 0)),   // 0.0 — stays
      (0L, Seq(1, 1, 1, 0)),             // 0.75 \ pooled to
      (3000000L, Seq(1, 0, 0, 0))))      // 0.25 / (3+1)/8 = 0.5
    val out = Extensions54.isotonicCalibrate(df, "margin_micro", "label")
      .collect().sortBy(_.getLong(0))
    assert(out.map(_.getDouble(4)).toSeq == Seq(0.0, 0.5, 0.5),
      s"block pooling: ${out.toSeq}")
  }

  test("x140 fixture: the calibration map is monotone non-decreasing and bounded") {
    val out = SparkEntry.queries("x140_isotonic")(spark, sf0001).collect()
      .sortBy(_.getLong(0))
    assert(out.length >= 2)
    val iso = out.map(_.getDouble(4)).toSeq
    assert(iso.zip(iso.tail).forall { case (a, b) => a <= b },
      s"monotone: $iso")
    assert(iso.forall(v => v >= 0.0 && v <= 1.0))
  }

  test("x141 planted: a perfect predictor token tops the list; an everywhere token is excluded") {
    import spark.implicits._
    // 10 keep docs contain "signal", 10 drop docs don't; "common" is in
    // every doc (c+d = 0 -> excluded); "noise" is independent of the label
    val docs = (0 until 20).map { i =>
      val keep = i < 10
      val noise = if (i % 2 == 0) "noise" else "calm"
      val sig = if (keep) "signal" else "absent"
      (i.toLong, s"common $sig $noise filler$i", if (keep) 1 else 0)
    }.toDF("doc_id", "text", "y")
    val out = Extensions54.chiSquareTokens(docs, "doc_id", "text", "y",
      topK = 10, minDf = 5L).collect()
    val byTok = out.map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(!byTok.contains("common"), "c+d=0 token excluded")
    assert(byTok("signal") == 20.0 && byTok("absent") == 20.0,
      s"perfect 2x2 on n=20: chi2 = N: $byTok")
    assert(byTok("noise") == 0.0, s"independent token scores 0: $byTok")
    assert(out.head.getString(0) == "absent" && out(1).getString(0) == "signal",
      "top ties break on the token string")
  }

  test("x141 fixture: top-50, deterministic order, sane counts") {
    val out = SparkEntry.queries("x141_chi2_tokens")(spark, sf0001).collect()
    assert(out.length <= 50 && out.length > 5)
    val chi = out.map(_.getDouble(3)).toSeq
    assert(chi.zip(chi.tail).forall { case (a, b) => a >= b }, "desc order")
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"n_keep <= n_docs: $r")
    }
  }
}
