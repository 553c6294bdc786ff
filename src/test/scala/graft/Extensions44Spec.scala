package graft

import org.apache.spark.sql.functions._
import graft.ops.Extensions44

/** Batch-44 invariants: the calibration table's exact-integer gap
  * arithmetic (perfect calibration → ece 0, planted overconfidence →
  * the hand-computed ece), and the Bradley–Terry MM fit (dominance
  * order, symmetry anchoring, repartition determinism).
  */
class Extensions44Spec extends SparkSpec {

  test("x120 planted: perfectly calibrated extremes give ece = 0") {
    import spark.implicits._
    // margin +-8e6 -> conf permille 1000 / 0; labels match exactly
    val scored = Seq(
      (0L, true, 8000000L), (1L, true, 8000000L), (2L, true, 8000000L),
      (3L, false, -8000000L), (4L, false, -8000000L))
      .toDF("doc_id", "label", "margin_micro")
    val out = Extensions44.calibrationReport(scored, "margin_micro", "label")
      .collect().sortBy(_.getLong(0))
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 9L))
    out.foreach { r =>
      assert(r.getDouble(5) == 0.0, s"abs_gap must be 0: $r")
      assert(r.getDouble(6) == 0.0, s"ece must be 0: $r")
    }
    val hi = out.find(_.getLong(0) == 9L).get
    assert(hi.getDouble(3) == 1.0 && hi.getDouble(4) == 1.0)
  }

  test("x120 planted: confident-but-half-wrong bin yields ece 0.5") {
    import spark.implicits._
    val scored = Seq(
      (0L, true, 8000000L), (1L, true, 8000000L),
      (2L, false, 8000000L), (3L, false, 8000000L))
      .toDF("doc_id", "label", "margin_micro")
    val out = Extensions44.calibrationReport(scored, "margin_micro", "label")
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 9L && r.getLong(1) == 4L && r.getLong(2) == 2L)
    assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 0.5)
    assert(r.getDouble(5) == 0.5 && r.getDouble(6) == 0.5)
  }

  test("x120 fixture: bins partition the corpus; ece and ratios in range") {
    val out = SparkEntry.queries("x120_calibration")(spark, sf0001).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getLong(1)).sum == 500L, "bin sizes must sum to the corpus")
    assert(out.map(_.getLong(0)).forall(b => b >= 0L && b <= 9L))
    val eces = out.map(_.getDouble(6)).distinct
    assert(eces.length == 1, "ece is a corpus constant repeated per row")
    assert(eces.head >= 0.0 && eces.head <= 1.0)
    out.foreach { r =>
      Seq(3, 4, 5).foreach(i =>
        assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0, s"col $i: $r"))
    }
  }

  test("x121 planted: transitive dominance chain ranks A > B > C") {
    import spark.implicits._
    // ordered (player, opp, n, w): A beats B and C; B beats C
    val games = Seq(
      (0L, 1L, 1L, 1L), (1L, 0L, 1L, 0L),
      (0L, 2L, 1L, 1L), (2L, 0L, 1L, 0L),
      (1L, 2L, 1L, 1L), (2L, 1L, 1L, 0L))
      .toDF("player", "opp", "n", "w")
    val out = Extensions44.bradleyTerry(games, "player", "opp", "n", "w")
      .collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L), s"rank order: ${out.toSeq}")
    val s = out.map(_.getLong(3))
    assert(s(0) > s(1) && s(1) > s(2), s"strengths strictly ordered: ${s.toSeq}")
    assert(out.map(_.getLong(4)).toSeq == Seq(1L, 2L, 3L))
  }

  test("x121 planted: symmetric 1-1 record anchors both players at the ghost scale") {
    import spark.implicits._
    val games = Seq((0L, 1L, 1L, 1L), (1L, 0L, 1L, 1L))
      .toDF("player", "opp", "n", "w")
    val out = Extensions44.bradleyTerry(games, "player", "opp", "n", "w")
      .collect()
    val s = out.map(_.getLong(3))
    assert(s(0) == s(1), "symmetric players must tie")
    // the MM fixed point of a 1-1 peer record + the ghost split solves
    // 0.5 + 2p/(p+1) = 2 -> p = 3.0; six rounds approach it from 1.0
    assert(s(0) > 1000000L && s(0) < 3000000L, s"between start and fixed point: ${s.toSeq}")
  }

  test("x121 determinism under repartitioning") {
    val d = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("doc_id") < 12)
      .select(col("doc_id").as("player"),
        size(split(lower(col("text")), " ")).cast("long").as("lt"))
    val opp = d.select(col("player").as("opp"), col("lt").as("lt_o"))
    def fit(df: org.apache.spark.sql.DataFrame) = {
      val games = df.join(opp, col("player") =!= col("opp"))
        .select(col("player"), col("opp"), lit(1L).as("n"),
          when(col("lt") > col("lt_o")
              || (col("lt") === col("lt_o") && col("player") < col("opp")), 1L)
            .otherwise(0L).as("w"))
      Extensions44.bradleyTerry(games, "player", "opp", "n", "w")
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSeq
    }
    assert(fit(d) == fit(d.repartition(7)))
  }

  test("x121 fixture: round robin is complete and the longest doc is rank 1") {
    val out = SparkEntry.queries("x121_bradley_terry")(spark, sf0001).collect()
    assert(out.length == 12)
    assert(out.forall(_.getLong(1) == 11L), "11 games each in a 12-player round robin")
    assert(out.map(_.getLong(2)).sum == 66L, "one win per unordered pair")
    val lens = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("doc_id") < 12)
      .select(col("doc_id"), size(split(lower(col("text")), " ")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val best = lens.maxBy(p => (p._2, -p._1))._1
    assert(out.head.getLong(0) == best, "most tokens wins every game -> rank 1")
    // more wins can never rank lower than fewer wins under BT on a round robin
    val byRank = out.sortBy(_.getLong(4)).map(_.getLong(2))
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
      s"wins non-increasing with rank: ${byRank.toSeq}")
  }
}
