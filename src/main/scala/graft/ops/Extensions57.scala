package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Fifty-seventh extension batch — who buys together, who anchors whom:
  *
  *  - item-item recommendations (x146): cosine-normalized basket
  *    co-occurrence (Sarwar et al. 2001; the Linden et al. 2003
  *    Amazon shape) — for every item, the top-k "customers who bought
  *    this also bought" list. Pairs enumerate per basket (bounded by
  *    basket size²), NEVER item×item.
  *  - HITS hubs/authorities (x147, Kleinberg 1999): fixed-round mutual
  *    reinforcement over the bipartite customer→part purchase graph —
  *    hub customers (broad, authoritative baskets) and authority parts
  *    (bought by the strongest hubs). The x96 integer-iteration
  *    discipline: micro-unit scores, L∞ normalization via half-away
  *    division, fully replayed by a generated CTE chain.
  *
  * Determinism discipline: x146's cosine = c/sqrt(n_i·n_j) uses ONE
  * IEEE sqrt of an exact long product (sqrt is correctly rounded —
  * bit-identical across engines) and rounds 4dp BEFORE ranking, ties
  * to the neighbor id; x147 is exact long arithmetic end to end
  * (headroom: in-degree·1e12 per neighbor sum — fine until ~9e6
  * same-side neighbors, documented).
  */
object Extensions57 {

  // ---- x146: item-item co-occurrence recommendations --------------------------

  /** Top-`topK` co-occurrence recommendations per item from a
    * (basket, item) relation: n_i = baskets containing i, c_ij =
    * baskets containing both, cosine = c_ij/sqrt(n_i·n_j), ranked
    * per item by (cosine desc, neighbor asc) — cosine rounds 4dp
    * BEFORE ranking (the x111 discipline) so the cut is deterministic.
    * Output (item, rec, n_both, cosine, rk).
    *
    * Scale: pairs enumerate through ONE self-equi-join on the basket
    * key — cost Σ basket² — then hash-agg to the co-occurrence table;
    * the ranking window runs over ≤ items·neighbors rows. No item×item
    * cross ever exists; a hot basket (size B) costs B², which is the
    * inherent output size of its pair set.
    */
  def itemItemRecs(
      baskets: DataFrame, basketCol: String, itemCol: String,
      topK: Int = 3): DataFrame = {
    val bi = Extensions.materialized(
      baskets.select(col(basketCol).as("b"), col(itemCol).as("i")).distinct())
    val sizes = bi.groupBy(col("i")).agg(count(lit(1)).as("n"))
    val pairs = bi.join(bi.select(col("b"), col("i").as("j")), Seq("b"))
      .filter(col("i") =!= col("j"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("i"))
      .orderBy(col("cosine").desc, col("j"))
    pairs
      .join(sizes.select(col("i"), col("n").as("ni")), Seq("i"))
      .join(sizes.select(col("i").as("j"), col("n").as("nj")), Seq("j"))
      .select(col("i"), col("j"),  col("c"),
        round(col("c") / sqrt((col("ni") * col("nj")).cast("double")), 4)
          .as("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("i").as("item"), col("j").as("rec"), col("c").as("n_both"),
        col("cosine"), col("rk"))
  }

  /** x146: "also bought" over order baskets — parts co-purchased within
    * an order, top-3 per part.
    */
  def x146ItemItem(s: SparkSession, dir: String): DataFrame =
    itemItemRecs(
      Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey")

  private val x146OracleSql: String = """
      WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      sz AS (SELECT i, count(*) AS n FROM bi GROUP BY i),
      pr AS (SELECT a.i, b.i AS j, count(*) AS c
             FROM bi a JOIN bi b ON a.b = b.b AND a.i <> b.i
             GROUP BY 1, 2),
      cs AS (SELECT pr.i, pr.j, pr.c,
               round(pr.c / sqrt(CAST(si.n * sj.n AS DOUBLE)), 4) AS cosine
             FROM pr JOIN sz si ON si.i = pr.i JOIN sz sj ON sj.i = pr.j),
      rk AS (SELECT *, row_number() OVER (PARTITION BY i
               ORDER BY cosine DESC, j) AS rk
             FROM cs)
      SELECT i AS item, j AS rec, c AS n_both, cosine, rk
      FROM rk WHERE rk <= 3
      ORDER BY item, rk"""

  // ---- x147: HITS hubs and authorities ----------------------------------------

  /** HITS over a directed bipartite (src → dst) edge relation, fixed
    * `iters` rounds in micro-units: per round, authority(dst) =
    * Σ_{src→dst} hub(src) then L∞-normalize (halfAway(1e6·a, max a));
    * hub(src) = Σ_{src→dst} authority(dst), normalize likewise. Output
    * (node_type 'hub'|'authority', node_id, score_micro) —
    * deterministic long arithmetic, replayable round by round in SQL.
    *
    * Scale: edges materialize ONCE; each round is two equi-joins +
    * two hash-aggs over O(edges), with the two 1-row maxima broadcast.
    * Every per-round table except edges is O(nodes). Widths (r12
    * sweep follow-up): the neighbor sum and its 10^6-scaled normalize
    * numerator ride in DECIMAL(38,0) — a long `1e6·s` wraps past 2^63
    * at ~9e6 same-side neighbors of one hub, exactly the degree a
    * 100 TB graph serves; the normalized score is back in [0, 10^6]
    * so the output stays LongType (hash-transparent at any scale).
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 16)
    val e = Extensions.materialized(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst")).distinct())
    def normalized(scores: DataFrame, keyCol: String): DataFrame = {
      val mx = scores.agg(max(col("s")).as("mx"))
      scores.crossJoin(broadcast(mx))
        .select(col(keyCol),
          expr("CAST((1000000 * s * 2 + mx) DIV (2 * mx) AS BIGINT)")
            .as("score"))
    }
    // ONE checkpoint per full hub→auth→hub iteration (r15): the
    // auth half-step stays lazy inside the hub job (its max-normalize
    // broadcast agg rides the same job via exchange reuse), halving the
    // per-iteration job round-trips; the final auths table is
    // re-derived once from the last checkpointed hubs (guide §2.4 —
    // same arithmetic, fewer barriers).
    var hubs = Extensions.materialized(
      e.select(col("src")).distinct().withColumn("score", lit(1000000L)))
    def authStep(h: DataFrame): DataFrame =
      normalized(
        e.join(h, Seq("src"))
          .groupBy(col("dst"))
          .agg(sum(col("score").cast("decimal(38,0)")).as("s")), "dst")
    var auths: DataFrame = null
    for (it <- 1 to iters) {
      // the LAST iteration's auth table is an output: checkpoint it so
      // the closing hub job reads it instead of recomputing the half-step
      val a = if (it == iters) Extensions.materialized(authStep(hubs))
              else authStep(hubs)
      if (it == iters) auths = a
      val hSum = e.join(a, Seq("dst"))
        .groupBy(col("src"))
        .agg(sum(col("score").cast("decimal(38,0)")).as("s"))
      hubs = Extensions.materialized(normalized(hSum, "src"))
    }
    hubs.select(lit("hub").as("node_type"), col("src").as("node_id"),
        col("score").as("score_micro"))
      .unionAll(auths.select(lit("authority").as("node_type"),
        col("dst").as("node_id"), col("score").as("score_micro")))
  }

  /** x147: hubs (customers) and authorities (parts) of the purchase
    * bipartite graph — edges = distinct (customer, part) observed in
    * orders⋈lineitem.
    */
  def x147Hits(s: SparkSession, dir: String): DataFrame =
    hits(
      Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
        .distinct(),
      "src", "dst", iters = 4)

  private val x147OracleSql: String = {
    def halfAway(num: String, den: String) = s"(($num) * 2 + ($den)) // (2 * ($den))"
    val rounds = (1 to 4).map { t =>
      s"""
      as$t AS (SELECT e.dst, CAST(sum(h.score) AS BIGINT) AS s
               FROM e JOIN h${t - 1} h ON e.src = h.src GROUP BY e.dst),
      am$t AS (SELECT max(s) AS mx FROM as$t),
      a$t AS MATERIALIZED (SELECT dst, ${halfAway("1000000 * s", "mx")} AS score
               FROM as$t, am$t),
      hs$t AS (SELECT e.src, CAST(sum(a.score) AS BIGINT) AS s
               FROM e JOIN a$t a ON e.dst = a.dst GROUP BY e.src),
      hm$t AS (SELECT max(s) AS mx FROM hs$t),
      h$t AS MATERIALIZED (SELECT src, ${halfAway("1000000 * s", "mx")} AS score
               FROM hs$t, hm$t)"""
    }.mkString(",")
    s"""
      WITH e AS (SELECT DISTINCT o_custkey AS src, l_partkey AS dst
                 FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      h0 AS (SELECT DISTINCT src, CAST(1000000 AS BIGINT) AS score FROM e),$rounds
      SELECT 'hub' AS node_type, src AS node_id, CAST(score AS BIGINT) AS score_micro FROM h4
      UNION ALL
      SELECT 'authority', dst, CAST(score AS BIGINT) FROM a4
      ORDER BY node_type, node_id"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x146_item_item", x146ItemItem _, x146OracleSql),
    Entry("x147_hits", x147Hits _, x147OracleSql))
}
