package graft

import org.apache.spark.sql.functions._

/** Physical-plan contracts for round 14: (a) the value-grid sweep — no
  * re-planned grid operator may ever regrow an unpartitioned window over
  * a corpus-derived value domain (the r13 weak marks on x323/x329, now
  * cleared, plus the legacy family); (b) the r13 operators PlanShape14
  * left uncovered (x321/x326/x327/x332/x333).
  */
class PlanShape15Spec extends SparkSpec {

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("value-grid order statistics: every window rides __pid (r13 weak marks cleared)") {
    // every query whose rank/quantile/cumulation reads a corpus-derived
    // value grid must window ONLY over the stamped range-partition id —
    // an unpartitioned Window.orderBy over a cents/per-user-sum grid is
    // a one-task sort of up to 10^9 rows at 100 TB. (x323's and x134's
    // kernel stages sit behind a materialization in their query plans;
    // the kernel itself is pinned below.)
    for (q <- Seq("x157_mann_whitney", "x329_winsorized_mean",
        "x182_ks_test", "x171_gini", "x134_msprt_bh", "x145_conformal",
        "x105_calibrate_gate", "x181_utility_gate")) {
      val plan = planOf(SparkEntry.queries(q)(spark, sf0001))
      val windows = plan.linesIterator.filter(_.contains("Window ")).toSeq
      windows.foreach { w =>
        assert(w.contains("__pid"), s"$q: unpartitioned window in plan: $w")
      }
      assert(plan.contains("BroadcastExchange"),
        s"$q: global scalars (totals/offsets/cutoffs) must broadcast:\n$plan")
    }
  }

  test("x180 gains chart: grid windows ride __pid; only the 10-row decile cum keeps the bare shape") {
    val plan = planOf(SparkEntry.queries("x180_gains_chart")(spark, sf0001))
    val windows = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty, s"windows present:\n$plan")
    windows.foreach { w =>
      assert(w.contains("__pid") || w.contains("decile"),
        s"x180: only __pid or the bounded decile spine may window: $w")
    }
    assert(plan.contains("BroadcastExchange"),
      s"x180: totals must broadcast:\n$plan")
  }

  test("rank-sum and step-up kernels window only over __pid") {
    import spark.implicits._
    val grid = Seq((1L, 1L, 2L), (2L, 0L, 1L), (3L, 2L, 3L))
      .toDF("v", "ca", "c")
    val rsPlan = planOf(graft.ops.GridStats.rankSumReduce(grid, "v", "ca", "c"))
    val rsWindows = rsPlan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(rsWindows.nonEmpty, s"prefix-sum window present:\n$rsPlan")
    rsWindows.foreach { w =>
      assert(w.contains("__pid"), s"rankSumReduce: unpartitioned window: $w")
    }
    val metrics = Seq(("a", 100L), ("b", 900L)).toDF("k", "p")
    val ranked = graft.ops.Rank.globalRank(metrics, Seq("p", "k"),
      Seq(false, false))
    val bhPlan = planOf(ranked)
    val bhWindows = bhPlan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(bhWindows.nonEmpty, s"global-rank window present:\n$bhPlan")
    bhWindows.foreach { w =>
      assert(w.contains("__pid"), s"globalRank: unpartitioned window: $w")
    }
  }

  test("x321 planned pairs: the calibration slice is md5-bounded") {
    // charGramJaccardPairsPlanned runs its exact-baseline sweep on a
    // deterministic md5 slice of expected <= 0.9*maxSample docs; the
    // quadratic-prone truth form must never see the corpus
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val n = docs.count()
    assert(n > 50, "fixture sanity")
    import graft.functions.HashFunctions.md5_bucket60
    val m = 1L << 32
    val maxSample = 50L
    val thr = math.max(1L,
      (BigInt(m) * 9 * maxSample / (BigInt(10) * n)).toLong)
    val sliceCount = docs.filter(
      pmod(md5_bucket60(col("doc_id").cast("string")), lit(m)) < lit(thr))
      .count()
    // the draw is binomial with mean 0.9*maxSample (deterministic for a
    // fixed fixture — this is a boundedness contract, not an equality):
    // the slice may never grow with the corpus beyond the cap's scale
    assert(sliceCount <= (maxSample * 13) / 10,
      s"slice must stay within the cap's scale: $sliceCount vs $maxSample")
    assert(sliceCount >= 1L, "slice must be non-empty")
  }

  test("x326 greedy coverage: each round is one anti-join + one hash-agg") {
    import spark.implicits._
    val sets = Seq((1L, "a"), (1L, "b"), (2L, "b"), (2L, "c"))
      .toDF("doc_id", "g")
    val covered = Seq("a").toDF("g")
    val round = sets.join(covered, Seq("g"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
    val logical = round.queryExecution.optimizedPlan.toString
    assert(logical.contains("LeftAnti"), s"anti-join shape:\n$logical")
    assert(logical.linesIterator.count(_.trim.startsWith("Aggregate")) == 1,
      s"one aggregate per round:\n$logical")
    assert(!logical.contains("Window"), s"no windows in the round:\n$logical")
  }

  test("x327 surprisal burst: windows are doc-partitioned, totals broadcast") {
    val plan = planOf(SparkEntry.queries("x327_surprisal_burst")(spark, sf0001))
    val windows = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windows.nonEmpty, s"burst window present:\n$plan")
    windows.foreach { w =>
      assert(w.contains("doc_id"),
        s"burst windows must partition by doc: $w")
    }
    assert(plan.contains("BroadcastExchange"),
      s"the 1-row token total must broadcast:\n$plan")
  }

  test("x332 weighted Jaccard: df cap reaches the seed join, never corpus x corpus") {
    val inner = graft.ops.Extensions146.weightedJaccardPairs(
      graft.model.Tables.load(spark, sf0001, "documents"), "doc_id", "text")
    val plan = planOf(inner)
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"no unconditioned pair join:\n$plan")
    // the df-cap filter must exist as a real Filter on the aggregated
    // posting counts (2 <= df <= 20) before the self-join
    assert(plan.linesIterator.exists(l =>
      l.contains("Filter") && l.contains(">= 2") && l.contains("<= 20")),
      s"df-cap filter must gate the seeds:\n$plan")
  }

  // the "output-order exchange" the name allows is gone with the
  // presentation sort (README "Design rules"), so the plan has none
  test("x333 chunker: map-only — no joins, no aggregates, only the output-order exchange") {
    val df = SparkEntry.queries("x333_chunk_text")(spark, sf0001)
    val plan = planOf(df)
    assert(!plan.contains("Join"), s"no joins:\n$plan")
    assert(!plan.contains("HashAggregate"), s"no aggregates:\n$plan")
    assert(!plan.contains("Window "), s"no windows:\n$plan")
    val exchanges = plan.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("Reused")).toSeq
    assert(exchanges.isEmpty, s"map-only, no exchange:\n$plan")
  }
}
