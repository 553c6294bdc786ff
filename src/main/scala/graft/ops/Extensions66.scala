package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Sixty-sixth extension batch — how far influence travels, which
  * labels to distrust:
  *
  *  - k-hop reach (x164): BFS frontier expansion from a seed set over
  *    the purchase graph — per hop, how many NEW nodes become
  *    reachable and the cumulative total. The marketing-reach /
  *    contagion readout the x96 rank and x122 k-core don't give
  *    (they say who matters; this says who is TOUCHED, and when).
  *  - label-noise suspects (x165): confidently-contradicted labels
  *    (Northcutt et al. 2021's confident-learning intuition at the
  *    margin level) — rows where the trained x94 classifier disagrees
  *    with the Gopher label, ranked by |margin|. The relabel queue:
  *    x125 summarizes model health; this lists what to re-annotate
  *    first.
  *
  * Determinism discipline: x164 is distinct-set algebra on exact keys
  * (counts only); x165 ranks by the exact integer micro-margin with
  * doc_id tie-break — the queue order cannot drift.
  */
object Extensions66 {

  // ---- x164: k-hop reach -------------------------------------------------------

  /** BFS reach per hop from `seeds` over a directed edge relation:
    * hop h's frontier = nodes first reached at h. Output one row per
    * hop 0..`hops`: (hop, frontier_size, total_reached).
    *
    * Scale: the canonical iterative frontier join — edges materialized
    * ONCE; each hop is one frontier⋈edges equi-join + distinct + one
    * anti-join against the visited set (both O(nodes) tables,
    * materialized per hop to cut lineage). Frontiers only shrink the
    * problem: a saturated frontier empties and later hops cost one
    * empty join each.
    */
  def khopReach(
      edges: DataFrame, srcCol: String, dstCol: String, seeds: DataFrame,
      seedCol: String, hops: Int): DataFrame = {
    require(hops >= 1 && hops <= 12)
    val e = Extensions.materialized(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    var visited = Extensions.materialized(
      seeds.select(col(seedCol).as("node")).distinct())
    var frontier = visited
    val counts = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    var total = visited.count()
    counts += ((0, total, total))
    for (h <- 1 to hops) {
      val next = e.join(frontier.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node")).distinct()
      frontier = Extensions.materialized(
        next.join(visited, Seq("node"), "left_anti"))
      visited = Extensions.materialized(visited.unionAll(frontier))
      val f = frontier.count()
      total += f
      counts += ((h, f, total))
    }
    val s = edges.sparkSession
    import s.implicits._
    counts.toSeq.toDF("hop", "frontier_size", "total_reached")
  }

  /** x164: reach of the 3 smallest customer keys over the bidirectional
    * customer↔supplier purchase graph (the x96 edge set), 4 hops —
    * on a dense bipartite graph the frontier saturates fast; the
    * per-hop profile says exactly how fast.
    */
  def x164Reach(s: SparkSession, dir: String): DataFrame = {
    val pairs = Extensions.materialized(
      Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"),
          (col("l_suppkey") + 10000000L).as("supp"))
        .distinct())
    val edges = pairs.select(col("cust").as("src"), col("supp").as("dst"))
      .unionAll(pairs.select(col("supp").as("src"), col("cust").as("dst")))
    val seeds = pairs.select(col("cust").as("node"))
      .filter(col("node") <= 3L).distinct()
    khopReach(edges, "src", "dst", seeds, "node", hops = 4)
  }

  private val x164OracleSql: String = {
    val rounds = (1 to 4).map { h =>
      s"""
      f$h AS MATERIALIZED (
        SELECT DISTINCT e.dst AS node
        FROM e JOIN f${h - 1} f ON e.src = f.node
        WHERE e.dst NOT IN (SELECT node FROM v${h - 1})),
      v$h AS MATERIALIZED (SELECT node FROM v${h - 1}
        UNION ALL SELECT node FROM f$h)"""
    }.mkString(",")
    s"""
      WITH pairs AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey + 10000000 AS supp
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      e AS (SELECT cust AS src, supp AS dst FROM pairs
            UNION ALL SELECT supp AS src, cust AS dst FROM pairs),
      f0 AS (SELECT DISTINCT cust AS node FROM pairs WHERE cust <= 3),
      v0 AS (SELECT node FROM f0),$rounds
      SELECT CAST(0 AS INT) AS hop,
             (SELECT count(*) FROM f0) AS frontier_size,
             (SELECT count(*) FROM v0) AS total_reached
      UNION ALL SELECT 1, (SELECT count(*) FROM f1), (SELECT count(*) FROM v1)
      UNION ALL SELECT 2, (SELECT count(*) FROM f2), (SELECT count(*) FROM v2)
      UNION ALL SELECT 3, (SELECT count(*) FROM f3), (SELECT count(*) FROM v3)
      UNION ALL SELECT 4, (SELECT count(*) FROM f4), (SELECT count(*) FROM v4)
      ORDER BY hop"""
  }

  // ---- x165: label-noise suspects ----------------------------------------------

  /** The relabel queue: rows where prediction (margin > 0) contradicts
    * the label, ranked by |margin| desc (most confident disagreement
    * first), doc-id tie-break. Output top-`topK` ordered:
    * (rank, doc_id, label, margin_micro, pred_keep).
    *
    * Scale: one scoring pass (the x94 serving fold) + a TakeOrdered
    * cut — the queue costs nothing beyond the scores it reads.
    */
  def labelNoiseSuspects(
      scored: DataFrame, idCol: String, marginCol: String, labelCol: String,
      topK: Int = 20): DataFrame = {
    val pred = col(marginCol) > 0L
    scored
      .filter(pred =!= (col(labelCol).cast("long") === 1L))
      .select(col(idCol).as("doc_id"), col(labelCol).cast("long").as("label"),
        col(marginCol).as("margin_micro"), pred.as("pred_keep"))
      .orderBy(abs(col("margin_micro")).desc, col("doc_id"))
      .limit(topK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(abs(col("margin_micro")).desc, col("doc_id"))).cast("long"))
      .select(col("rank"), col("doc_id"), col("label"), col("margin_micro"),
        col("pred_keep"))
  }

  /** x165: the fixture classifier's confident disagreements with its
    * own Gopher training labels — the docs whose labels to audit.
    */
  def x165LabelNoise(s: SparkSession, dir: String): DataFrame =
    labelNoiseSuspects(Extensions26.fixtureScored(s, dir), "doc_id",
      "margin_micro", "label")

  private val x165OracleSql: String = {
    val F1 = Extensions26.NumBuckets + 1
    Extensions26.logregOracleChain(8) + s""",
    scored AS (
      SELECT f.doc_id, f.y AS label,
             CAST(list_sum(list_transform(generate_series(1, $F1), j -> w.w[j] * f.x[j])) AS BIGINT) AS margin
      FROM feat f, w8 w),
    dis AS (SELECT doc_id, label, margin, margin > 0 AS pred_keep
            FROM scored
            WHERE (margin > 0) <> (label = 1)
            ORDER BY abs(margin) DESC, doc_id
            LIMIT 20)
    SELECT CAST(row_number() OVER (ORDER BY abs(margin) DESC, doc_id) AS BIGINT) AS rank,
           doc_id, label, margin AS margin_micro, pred_keep
    FROM dis
    ORDER BY rank"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x164_khop_reach", x164Reach _, x164OracleSql),
    Entry("x165_label_noise", x165LabelNoise _, x165OracleSql))
}
