package graft

import org.apache.spark.sql.functions._
import graft.ops.{Extensions28, Extensions30, GraphStore}

/** Bucketed edge store: value equality with the in-memory operators and
  * the plan shape the store exists for — NO exchange on the edge side of
  * the per-iteration join (the O(nodes) rank side is the only thing that
  * moves each round).
  */
class GraphStoreSpec extends SparkSpec {

  private def edges30 = {
    import spark.implicits._
    (1L to 30L).flatMap(i => Seq((i, i % 7 + 50L), (i % 7 + 50L, i)))
      .toDF("src", "dst")
  }

  test("pageRankFromTable is value-identical to the in-memory operator") {
    GraphStore.writeEdges(edges30, "src", "dst", "gs_pr_edges", buckets = 4)
    val a = Extensions28.pageRank(edges30, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = GraphStore.pageRankFromTable(spark, "gs_pr_edges")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b, "bucketed-loop ranks must match the in-memory loop")
  }

  test("labelPropagationFromTable is value-identical to the in-memory operator") {
    GraphStore.writeSymmetrizedEdges(edges30, "src", "dst", "gs_lpa_edges",
      buckets = 4)
    val a = Extensions30.labelPropagation(edges30, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = GraphStore.labelPropagationFromTable(spark, "gs_lpa_edges")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b, "bucketed-loop labels must match the in-memory loop")
  }

  test("per-iteration join has no Exchange on the bucketed edge side (the non-bucketed plan has one)") {
    import spark.implicits._
    GraphStore.writeEdges(edges30, "src", "dst", "gs_plan_edges", buckets = 4)
    // a stand-in O(nodes) rank table, deliberately NOT bucketed
    val ranks = (1L to 60L).map(i => (i, 1000L)).toDF("src", "r")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // broadcast off: force the at-scale shuffle-join shape the store targets
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
        df.count() // settle AQE so executedPlan is final
        df.queryExecution.executedPlan.toString.linesIterator
          .count(_.contains("Exchange hashpartitioning"))
      }
      val bucketed = spark.table("gs_plan_edges").join(ranks, Seq("src"))
      val plain = edges30
        .join(edges30.groupBy("src").agg(count(lit(1)).as("d")), Seq("src"))
        .join(ranks, Seq("src"))
      val nb = exchanges(bucketed)
      val np = exchanges(plain)
      assert(nb == 1, s"bucketed join must shuffle ONLY the rank side, got $nb exchanges")
      assert(np > nb, s"non-bucketed plan must shuffle the edge side too ($np vs $nb)")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
  }

  test("salted bucketed loop still matches (salting trades the bucket co-location for hub spreading)") {
    val a = GraphStore.pageRankFromTable(spark, "gs_pr_edges")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = GraphStore.pageRankFromTable(spark, "gs_pr_edges", saltBuckets = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("kCoreFromTable is value-identical to the in-memory peel") {
    import spark.implicits._
    // triangle + 2-node tail: the tail peels over TWO rounds (cascade)
    val g = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L))
      .toDF("a", "b")
    GraphStore.writeSymmetrizedEdges(g, "a", "b", "gs_kcore_edges", buckets = 4)
    val a = graft.ops.Extensions45.kCore(g, "a", "b", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = GraphStore.kCoreFromTable(spark, "gs_kcore_edges", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b, s"store peel must match in-memory: $a vs $b")
  }

  test("k-core degree aggregation over the bucketed table is exchange-free") {
    import spark.implicits._
    GraphStore.writeSymmetrizedEdges(edges30, "src", "dst", "gs_kcore_plan",
      buckets = 4)
    val deg = spark.table("gs_kcore_plan").groupBy("src")
      .agg(count(lit(1)).as("dg"))
    deg.count()
    val n = deg.queryExecution.executedPlan.toString.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(n == 0, s"bucketed degree agg must not exchange, got $n")
  }
}
