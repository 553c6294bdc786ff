package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Thirtieth extension batch — communities and embedding diagnostics:
  *
  *  - label propagation (x100): Raghavan et al. 2007 community
  *    detection as fixed synchronous rounds — the cheap clustering
  *    pass over the same purchase graph x96 ranks (centrality says WHO
  *    matters; communities say WHICH MARKET they matter in). Self-
  *    votes are included, which damps the oscillation synchronous LPA
  *    exhibits on bipartite structure.
  *  - embedding health report (x101): the one-pass corpus diagnostic
  *    for an embedding table — per label: count, mean squared norm,
  *    mean pairwise dot, and the anisotropy ratio (mean pair dot /
  *    mean squared norm; ~0 isotropic, →1 collapsed). Embedding
  *    COLLAPSE (all vectors pointing the same way) silently destroys
  *    every downstream ANN/dedup stage; this is the gate that catches
  *    it. Everything derives from two exact integer sufficient
  *    statistics (Σv per dimension and Σ‖v‖²) — the pairwise term via
  *    ‖Σv‖² = Σᵢⱼ vᵢ·vⱼ, so NO pair enumeration and no float
  *    aggregation.
  */
object Extensions30 {

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- x100: label propagation communities -----------------------------------

  /** Synchronous label propagation: every node starts as its own label;
    * each round every node adopts the most frequent label among its
    * neighbors AND itself (the self-vote — without it synchronous LPA
    * oscillates on bipartite structure), ties to the smallest label.
    * Fixed `iters` rounds — deterministic by construction.
    *
    * Shape: edges materialize once; each round is one labels⋈edges
    * equi-join (labels O(nodes), the small side), one (node, label)
    * hash-agg, and one per-node argmax via min(struct(-cnt, label)) —
    * lexicographic struct ordering is the tie-break, no window, no
    * sort. Lineage cut per round (the x96 iterative-join discipline).
    * `saltBuckets > 1` routes the per-round join through
    * [[Scale.saltedJoin]] (hub-key mitigation, same contract as
    * [[Extensions28.pageRank]]).
    */
  def labelPropagation(
      edges: DataFrame, aCol: String, bCol: String, iters: Int = 5,
      saltBuckets: Int = 1): DataFrame = {
    val e = Extensions.materialized(
      edges.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
        .filter(col("src") =!= col("dst")).distinct())
    labelPropagationLoop(e, iters, saltBuckets)
  }

  /** The synchronous vote loop over an ALREADY-SYMMETRIZED (src, dst)
    * edge relation — shared by [[labelPropagation]] (in-memory,
    * materialized) and [[GraphStore.labelPropagationFromTable]]
    * (bucketed scan, NOT re-materialized so the co-located layout
    * survives into every round's join).
    */
  private[ops] def labelPropagationLoop(
      e: DataFrame, iters: Int, saltBuckets: Int = 1): DataFrame = {
    var labels = Extensions.materialized(
      e.select(col("src").as("node")).distinct()
        .withColumn("label", col("node")))
    for (_ <- 1 to iters) {
      val renamed = labels.withColumnRenamed("node", "src")
      val joined =
        if (saltBuckets > 1)
          Scale.saltedJoin(e, renamed, "src", saltBuckets, col("dst"))
        else e.join(renamed, Seq("src"))
      val votes = joined
        .select(col("dst").as("n"), col("label"))
        .union(labels.select(col("node").as("n"), col("label")))
      // r15 (guide §2.2): ONE exchange per round instead of two — the
      // explicit repartition on n satisfies BOTH aggregations' clustering
      // (HashPartitioning(n) clusters (n, label) too), so the vote count
      // and the per-node argmax run back-to-back in the same stage. The
      // (n, label) partial agg bought nothing here anyway: the join
      // output is partitioned by the SENDER, so votes for one receiver
      // are scattered and map-side combine found no duplicates.
      labels = Extensions.materialized(votes
        .repartition(col("n"))
        .groupBy(col("n"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("n"))
        .agg(min(struct((-col("cnt")).as("neg"), col("label").as("l")))
          .as("best"))
        .select(col("n").as("node"), col("best.l").as("label")))
    }
    labels.select(col("node"), col("label").as("community"))
  }

  /** x100: communities of the bidirectional customer↔supplier purchase
    * graph (x96's node space — suppliers offset by 10^7), with community
    * sizes joined on so the output reads as a membership table.
    */
  def x100Communities(s: SparkSession, dir: String): DataFrame = {
    val pairs = Extensions.materialized(table(s, dir, "orders")
      .join(table(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), (col("l_suppkey") + 10000000L).as("supp"))
      .distinct())
    val comm = labelPropagation(pairs, "cust", "supp")
    val sizes = comm.groupBy(col("community")).agg(count(lit(1)).as("community_size"))
    comm.join(broadcast(sizes), Seq("community"))
      .select(col("node"), col("community"), col("community_size"))
  }

  /** The x100 replay chain (purchase graph + `iters` vote rounds,
    * final labels in `l{iters}`) — shared with the community-metrics
    * oracle (x133).
    */
  private[ops] def lpOracleChain(iters: Int): String = {
    val rounds = (1 to iters).map { t =>
      s"""
    v$t AS (SELECT e.dst AS n, l.label FROM e JOIN l${t - 1} l ON e.src = l.node
            UNION ALL SELECT node AS n, label FROM l${t - 1}),
    c$t AS (SELECT n, label, count(*) AS cnt FROM v$t GROUP BY n, label),
    l$t AS MATERIALIZED (
      SELECT n AS node, label FROM (
        SELECT n, label, row_number() OVER (PARTITION BY n ORDER BY cnt DESC, label) AS rk
        FROM c$t)
      WHERE rk = 1)"""
    }.mkString(",")
    s"""
    WITH pairs AS (
      SELECT DISTINCT o_custkey AS cust, l_suppkey + 10000000 AS supp
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    e AS MATERIALIZED (
      SELECT cust AS src, supp AS dst FROM pairs
      UNION SELECT supp AS src, cust AS dst FROM pairs),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),$rounds"""
  }

  private val x100OracleSql: String = lpOracleChain(5) + s"""
    SELECT l.node, l.label AS community, s.community_size
    FROM l5 l JOIN (SELECT label AS community, count(*) AS community_size
                    FROM l5 GROUP BY label) s
      ON l.label = s.community
    ORDER BY l.node"""

  // ---- x101: embedding health report -----------------------------------------

  /** Per-label embedding health from exact integer sufficient
    * statistics: vectors quantize to ten-thousandths (x95 form); the
    * report needs only Σv (per dimension) and Σ‖v‖² — mean pairwise
    * dot = (‖Σv‖² − Σ‖v‖²) / (n(n−1)) by expanding the square, so the
    * pairwise term costs ZERO pair enumeration. Anisotropy = mean pair
    * dot / mean squared norm: ≈0 for isotropic (healthy) embeddings,
    * →1 when the space collapses to a cone. Outputs rescale by 1e8
    * (quantization²) and round to 4dp.
    *
    * Scale: one corpus pass, (labels × (D+2)) exact long sums; the
    * float math runs on the per-label aggregate rows. The diagnostic
    * for a 10^10-vector table costs one aggregation. Long headroom:
    * ‖Σv‖² terms square a per-dimension sum (≤ n·10⁴·|v̄|) — beyond
    * ~10⁸ vectors per label, switch the two sums to DecimalType(38,0)
    * (same plan, wider accumulator).
    *
    * `dim`: the fixed vector width the per-dimension sums unroll over.
    * Pass it when known; the default (≤ 0) DERIVES it with a
    * min/max(size) precheck and requires the table rectangular — wider
    * vectors would otherwise silently drop dims from the ‖Σv‖² term
    * while ssq used all of them, skewing the anisotropy (round-6
    * ADVICE). The precheck costs one scan of the vector column; known-
    * width callers skip it.
    */
  def embeddingHealth(
      vectors: DataFrame, labelCol: String, vecCol: String,
      dim: Int = 0): DataFrame = {
    val d = if (dim > 0) dim else {
      val r = vectors
        .agg(min(size(col(vecCol))).as("mn"), max(size(col(vecCol))).as("mx"))
        .head()
      require(!r.isNullAt(0), "embeddingHealth: empty input")
      require(r.getInt(0) == r.getInt(1),
        s"embeddingHealth: ragged vector widths (${r.getInt(0)}..${r.getInt(1)}) — " +
          "pad or filter to one width, or pass dim explicitly")
      r.getInt(0)
    }
    require(d >= 1, s"embeddingHealth: dim must be positive, got $d")
    val qv = col("qv")
    val quant = vectors.select(col(labelCol).as("label"),
        transform(col(vecCol).cast("array<double>"),
          x => round(x * 10000.0d, 0).cast("long")).as("qv"))
      .select(col("label"), qv,
        aggregate(qv, lit(0L), (a, x) => a + x * x).as("sq"))
    val aggCols = count(lit(1)).as("n") +: sum(col("sq")).as("ssq") +:
      (0 until d).map(i => sum(element_at(qv, i + 1)).as(s"d$i"))
    val sums = quant.groupBy(col("label")).agg(aggCols.head, aggCols.tail: _*)
    val normOfSum = (0 until d).map(i => col(s"d$i") * col(s"d$i")).reduce(_ + _)
    sums
      .withColumn("nos", normOfSum)
      .select(col("label"), col("n"),
        round(col("ssq") / col("n") / 1.0e8d, 4).as("mean_sq_norm"),
        round((col("nos") - col("ssq")) / (col("n") * (col("n") - 1)) / 1.0e8d, 4)
          .as("mean_pair_dot"),
        round(((col("nos") - col("ssq")) / (col("n") * (col("n") - 1)))
          / (col("ssq") / col("n")), 4).as("anisotropy"))
  }

  /** x101: [[embeddingHealth]] of the fixture embeddings per label. */
  def x101EmbeddingHealth(s: SparkSession, dir: String): DataFrame =
    embeddingHealth(table(s, dir, "embeddings"), "label", "embedding")

  private val x101OracleSql: String = """
      WITH q AS (
        SELECT label,
               list_transform(embedding,
                 x -> CAST(round(CAST(x AS DOUBLE) * 10000.0, 0) AS BIGINT)) AS qv
        FROM embeddings),
      pd AS (SELECT label, u.i AS dim, qv[u.i] AS v
             FROM q, LATERAL unnest(generate_series(1, 64)) AS u(i)),
      agg AS (SELECT label, dim, CAST(sum(v) AS BIGINT) AS dv
              FROM pd GROUP BY label, dim),
      pern AS (SELECT label, count(*) AS n,
                      CAST(sum(CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT)) AS BIGINT) AS ssq
               FROM q GROUP BY label),
      nos AS (SELECT label, CAST(sum(dv * dv) AS BIGINT) AS nos FROM agg GROUP BY label)
      SELECT p.label, p.n,
             round(p.ssq / p.n / 1e8, 4) AS mean_sq_norm,
             round((nos.nos - p.ssq) / (p.n * (p.n - 1)) / 1e8, 4) AS mean_pair_dot,
             round(((nos.nos - p.ssq) / (p.n * (p.n - 1))) / (p.ssq / p.n), 4) AS anisotropy
      FROM pern p JOIN nos USING (label)
      ORDER BY p.label"""

  val entries: Seq[Entry] = Seq(
    Entry("x100_communities", x100Communities _, x100OracleSql),
    Entry("x101_embedding_health", x101EmbeddingHealth _, x101OracleSql))
}
