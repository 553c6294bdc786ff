package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** One-hundred-thirty-fifth extension batch — the graph tier's three
  * missing classics, all on the x285 BFS machinery:
  *
  *  - KATZ CENTRALITY (x304): attenuated walk counts Σ_l α^l·W_l
  *    (Katz 1953) — the walk-volume member between PageRank
  *    (stochastic, teleport) and HITS (eigen, bipartite). α = 1/5,
  *    L = 4, accumulated EXACTLY over the common denominator 5^L
  *    (zero intermediate rounding), normalized once at the end.
  *  - PIVOT-SAMPLED BETWEENNESS (x305): Brandes 1971/2001 dependency
  *    accumulation from md5-sampled pivots — forward level-synchronous
  *    BFS carrying shortest-path counts σ, backward pass
  *    δ(v) = Σ_w halfup(σ_v·(10^6+δ_w), σ_w) per level. The standard
  *    sampled estimator (Brandes & Pich 2007): K pivots held constant
  *    as V grows.
  *  - NEIGHBORHOOD FUNCTION / EFFECTIVE DIAMETER (x306): N(h) = pairs
  *    within h hops from the pivot set, cumulative share per hop, and
  *    the 90%-effective-diameter flag (the ANF question, Palmer et
  *    al. 2002, answered with exact truncated BFS instead of sketches).
  *
  * Determinism and widths: σ and the Katz walk counts ride in
  * DECIMAL(38,0) (walk counts reach deg^L·10^6 — a long wraps at hub
  * degree ~200 for L=4; shortest-path counts multiply level widths),
  * every ratio is a half-up integer division quantized BEFORE its
  * enclosing sum, and each δ is bounded by descendants·10^6 ≤ V·10^6
  * (long-safe to V ~ 9·10^12).
  *
  * Scale: one BFS round = one frontier⋈edges join + hash-agg
  * partitioned on the node key, rounds ≤ maxHops; the backward pass
  * mirrors it level by level. State is K·V rows — the pivot count
  * pins the constant, the x285/x283 budget discipline.
  */
object Extensions135 {

  private def und(edges: DataFrame, srcCol: String, dstCol: String,
      distinctDisjoint: Boolean = false): DataFrame =
    if (distinctDisjoint) {
      // r15 (guide §2.4 "a distinct on data that is already unique"):
      // the caller guarantees the edge rows are UNIQUE and the two node
      // id spaces are DISJOINT (the bipartite purchase graph — cust <
      // 10^7, supp >= 10^7), so the two directions cannot collide and
      // the union is already duplicate-free. One materialized copy of
      // the pairs + its swapped projection (the x96 shape) replaces
      // re-computing the edge subtree per direction AND the distinct of
      // 2E rows through a second exchange.
      val p = Extensions.materialized(
        edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst")))
      p.unionAll(p.select(col("dst").as("src"), col("src").as("dst")))
    } else Extensions.materialized(
      edges.select(col(srcCol).cast("long").as("src"),
          col(dstCol).cast("long").as("dst"))
        .unionAll(edges.select(col(dstCol).cast("long").as("src"),
          col(srcCol).cast("long").as("dst")))
        .distinct())

  private def md5Pivots(u: DataFrame, nPivots: Int): Seq[Long] =
    u.select(col("src").as("node")).distinct()
      .orderBy(md5(col("node").cast("string")), col("node"))
      .limit(nPivots)
      .collect().map(_.getLong(0)).toSeq

  // ---- x304: Katz centrality ---------------------------------------------------------

  /** Relative Katz centrality with α = 1/5 over `levels` hops:
    * K(v) = Σ_{l=1..L} 5^{L−l}·W_l(v) (W_l = walks of length l ending
    * at v, common denominator 5^L — EXACT integers, no per-level
    * rounding), rendered once as halfup(10^6·K, max K). Returns
    * (node, katz_micro).
    */
  def katzCentrality(
      edges: DataFrame, srcCol: String, dstCol: String,
      levels: Int = 4, edgesDistinctDisjoint: Boolean = false): DataFrame = {
    require(levels >= 1 && levels <= 6, "katzCentrality: levels in [1,6]")
    val u = und(edges, srcCol, dstCol, edgesDistinctDisjoint)
    var w = Extensions.materialized(
      u.select(col("src").as("node")).distinct()
        .withColumn("w", lit(1000000L).cast("decimal(38,0)")))
    var contribs: DataFrame = null
    for (l <- 1 to levels) {
      w = Extensions.materialized(
        u.join(w, u("src") === w("node"))
          .groupBy(u("dst").as("node2"))
          .agg(sum(col("w")).as("w"))
          .withColumnRenamed("node2", "node"))
      val wt = math.pow(5.0, (levels - l).toDouble).toLong
      val c = w.select(col("node"), (col("w") * lit(wt)).as("kc"))
      contribs = if (contribs == null) c else contribs.unionAll(c)
    }
    val k = contribs.groupBy(col("node"))
      .agg(sum(col("kc")).as("kk"))
    val mx = k.agg(max(col("kk")).as("mxk"))
    k.crossJoin(broadcast(mx))
      .select(col("node"),
        expr("CAST((1000000 * kk * 2 + mxk) DIV (2 * mxk) AS BIGINT)")
          .as("katz_micro"))
  }

  /** x304: Katz over the x96/x285 bidirectional purchase graph,
    * rendered per node type like the other centralities.
    */
  def x304Katz(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), (col("l_suppkey") + 10000000L).as("supp"))
      .distinct()
    katzCentrality(pairs, "cust", "supp", edgesDistinctDisjoint = true)
      .select(
        when(col("node") >= 10000000L, lit("supplier")).otherwise(lit("customer"))
          .as("node_type"),
        when(col("node") >= 10000000L, col("node") - 10000000L).otherwise(col("node"))
          .as("node_id"),
        col("katz_micro"))
  }

  private val x304OracleSql: String = {
    val L = 4
    val wCtes = (1 to L).map { l =>
      s"""w$l AS (SELECT u.dst AS node, sum(w.w) AS w
           FROM und u JOIN w${l - 1} w ON w.node = u.src GROUP BY 1)"""
    }.mkString(",\n      ")
    val unions = (1 to L).map { l =>
      val wt = math.pow(5.0, (L - l).toDouble).toLong
      s"SELECT node, w * $wt AS kc FROM w$l"
    }.mkString(" UNION ALL ")
    s"""WITH pairs AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey + 10000000 AS supp
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      und AS (SELECT cust AS src, supp AS dst FROM pairs
              UNION SELECT supp, cust FROM pairs),
      w0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS HUGEINT) AS w FROM und),
      $wCtes,
      kk AS (SELECT node, sum(kc) AS k FROM ($unions) GROUP BY node),
      mx AS (SELECT max(k) AS m FROM kk)
      SELECT CASE WHEN node >= 10000000 THEN 'supplier' ELSE 'customer' END AS node_type,
             CAST(CASE WHEN node >= 10000000 THEN node - 10000000 ELSE node END AS BIGINT)
               AS node_id,
             CAST((1000000 * k * 2 + m) // (2 * m) AS BIGINT) AS katz_micro
      FROM kk, mx
      ORDER BY node_type, node_id"""
  }

  // ---- x305: pivot-sampled betweenness -------------------------------------------------

  /** Brandes dependency accumulation from `nPivots` md5-sampled
    * pivots, truncated at `maxHops`: forward BFS levels carry exact
    * shortest-path counts σ (DECIMAL); backward,
    * δ(v) = Σ_{w: v ∈ pred(w)} halfup(σ_v·(10^6+δ_w), σ_w), each term
    * quantized before the sum. Returns (node, bc_micro = Σ_pivots δ)
    * for nodes with positive dependency.
    */
  def pivotBetweenness(
      edges: DataFrame, srcCol: String, dstCol: String,
      nPivots: Int = 4, maxHops: Int = 4,
      edgesDistinctDisjoint: Boolean = false): DataFrame = {
    require(nPivots >= 1 && maxHops >= 1)
    val u = und(edges, srcCol, dstCol, edgesDistinctDisjoint)
    val spark = edges.sparkSession
    import spark.implicits._
    val pivots = md5Pivots(u, nPivots)
    var lvl = Extensions.materialized(
      pivots.map(p => (p, p)).toDF("pv", "node")
        .withColumn("sig", lit(1L).cast("decimal(38,0)")))
    var seen = lvl.select(col("pv"), col("node"))
    val levels = scala.collection.mutable.ArrayBuffer(lvl)
    var hop = 1
    var done = false
    while (hop <= maxHops && !done) {
      val nxt = Extensions.materialized(
        lvl.join(u, lvl("node") === u("src"))
          .groupBy(col("pv"), col("dst"))
          .agg(sum(col("sig")).as("sig"))
          .withColumnRenamed("dst", "node")
          .join(seen, Seq("pv", "node"), "left_anti"))
      if (nxt.isEmpty) done = true
      else {
        levels += nxt
        // lazy union of checkpointed levels — the growing seen-set is
        // never re-copied (r15, guide §2.4)
        seen = seen.unionAll(nxt.select(col("pv"), col("node")))
        lvl = nxt
        hop += 1
      }
    }
    var delta = Extensions.materialized(
      levels.last.withColumn("delta", lit(0L)))
    var bc = delta.select(col("pv"), col("node"), col("delta"))
    for (h <- levels.size - 2 to 0 by -1) {
      val cur = levels(h)
      val contrib = delta.join(u, delta("node") === u("dst"))
        .select(col("pv"), u("src").as("pnode"),
          col("sig").as("sigw"), col("delta"))
        .join(cur.select(col("pv"), col("node").as("pnode"),
          col("sig").as("sigv")), Seq("pv", "pnode"))
        .select(col("pv"), col("pnode"),
          expr("CAST((sigv * (1000000 + delta) * 2 + sigw) DIV (2 * sigw) AS BIGINT)")
            .as("term"))
        .groupBy(col("pv"), col("pnode"))
        .agg(sum(col("term")).as("dsum"))
        .withColumnRenamed("pnode", "node")
      delta = Extensions.materialized(
        cur.join(contrib, Seq("pv", "node"), "left_outer")
          .select(col("pv"), col("node"), col("sig"),
            coalesce(col("dsum"), lit(0L)).as("delta")))
      if (h > 0) bc = bc.unionAll(delta.select(col("pv"), col("node"), col("delta")))
    }
    bc.groupBy(col("node"))
      .agg(sum(col("delta")).as("bc_micro"))
      .filter(col("bc_micro") > 0L)
  }

  /** x305: sampled betweenness of the purchase graph (4 pivots, 4
    * hops), per node type.
    */
  def x305Betweenness(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), (col("l_suppkey") + 10000000L).as("supp"))
      .distinct()
    pivotBetweenness(pairs, "cust", "supp", edgesDistinctDisjoint = true)
      .select(
        when(col("node") >= 10000000L, lit("supplier")).otherwise(lit("customer"))
          .as("node_type"),
        when(col("node") >= 10000000L, col("node") - 10000000L).otherwise(col("node"))
          .as("node_id"),
        col("bc_micro"))
  }

  private val x305OracleSql: String = {
    val H = 4
    val fwd = (1 to H).map { h =>
      s"""l$h AS MATERIALIZED (
           SELECT w.pv, u.dst AS node, sum(w.sig) AS sig
           FROM l${h - 1} w JOIN und u ON u.src = w.node
           WHERE NOT EXISTS (SELECT 1 FROM seen${h - 1} s
                             WHERE s.pv = w.pv AND s.node = u.dst)
           GROUP BY 1, 2),
         seen$h AS (SELECT pv, node FROM seen${h - 1}
                    UNION ALL SELECT pv, node FROM l$h)"""
    }.mkString(",\n      ")
    val bwd = (H - 1 to 0 by -1).map { h =>
      s"""bd$h AS MATERIALIZED (
           SELECT v.pv, v.node, v.sig, COALESCE(c.dsum, 0) AS delta
           FROM l$h v LEFT JOIN (
             SELECT v2.pv, v2.node,
                    CAST(sum((v2.sig * (1000000 + w.delta) * 2 + w.sig)
                             // (2 * w.sig)) AS BIGINT) AS dsum
             FROM bd${h + 1} w
             JOIN und u ON u.dst = w.node
             JOIN l$h v2 ON v2.pv = w.pv AND v2.node = u.src
             GROUP BY 1, 2) c
           ON c.pv = v.pv AND c.node = v.node)"""
    }.mkString(",\n      ")
    val deltaUnion = (1 to H).map(h => s"SELECT pv, node, delta FROM bd$h")
      .mkString(" UNION ALL ")
    s"""WITH pairs AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey + 10000000 AS supp
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      und AS (SELECT cust AS src, supp AS dst FROM pairs
              UNION SELECT supp, cust FROM pairs),
      pivots AS (SELECT src AS p FROM (SELECT DISTINCT src FROM und)
                 ORDER BY md5(CAST(src AS VARCHAR)), src LIMIT 4),
      l0 AS (SELECT p AS pv, p AS node, CAST(1 AS HUGEINT) AS sig FROM pivots),
      seen0 AS (SELECT pv, node FROM l0),
      $fwd,
      bd$H AS (SELECT pv, node, sig, CAST(0 AS BIGINT) AS delta FROM l$H),
      $bwd
      SELECT CASE WHEN node >= 10000000 THEN 'supplier' ELSE 'customer' END AS node_type,
             CAST(CASE WHEN node >= 10000000 THEN node - 10000000 ELSE node END AS BIGINT)
               AS node_id,
             CAST(sum(delta) AS BIGINT) AS bc_micro
      FROM ($deltaUnion)
      GROUP BY 1, 2 HAVING sum(delta) > 0
      ORDER BY node_type, node_id"""
  }

  // ---- x306: neighborhood function / effective diameter --------------------------------

  /** Exact truncated neighborhood function from `nPivots` md5 pivots:
    * per hop h, the (pivot, node) pairs within distance ≤ h, their
    * cumulative share of all pairs reached by `maxHops`, and the
    * 90%-effective-diameter flag on the first hop crossing 0.9.
    * Returns (h, pairs_within, share_micro, is_effective_diameter).
    */
  def neighborhoodFunction(
      edges: DataFrame, srcCol: String, dstCol: String,
      nPivots: Int = 8, maxHops: Int = 8,
      edgesDistinctDisjoint: Boolean = false): DataFrame = {
    require(nPivots >= 1 && maxHops >= 1)
    val u = und(edges, srcCol, dstCol, edgesDistinctDisjoint)
    val spark = edges.sparkSession
    import spark.implicits._
    val pivots = md5Pivots(u, nPivots)
    // r15: bitmask pivot BFS (Extensions.pivotMaskLevels) — one row per
    // node instead of one per (pivot, node); the per-hop pair count is
    // the popcount sum of that hop's new masks (same integers).
    val levels = Extensions.pivotMaskLevels(u, pivots, maxHops)
    val byD = levels.zipWithIndex
      .map { case (df, h) =>
        df.select(expr("CAST(bit_count(m) AS BIGINT)").as("c"), lit(h).as("d")) }
      .reduce(_ unionAll _)
      .filter(col("d") > 0)
      .groupBy(col("d")).agg(sum(col("c")).as("cnt"))
    val spine = (1 to maxHops).map(_.toLong).toDF("h")
    val wCum = Window.orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the spine is maxHops rows — the single-partition window is bounded
    val cum = spine.join(byD, col("h") === col("d"), "left_outer")
      .select(col("h"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      .withColumn("pairs_within", sum(col("cnt")).over(wCum))
      .withColumn("total", max(col("pairs_within")).over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("share_micro",
        // width (r13 table): 2e6·pairs wraps a long past pairs ~ 4.6e12
        // (nPivots·n reachable-pair rows) — the numerator rides DECIMAL
        expr("CAST((1000000 * CAST(pairs_within AS DECIMAL(38,0)) * 2" +
          " + total) DIV (2 * total) AS BIGINT)"))
    cum
      .withColumn("prev_share", lag(col("share_micro"), 1).over(Window.orderBy(col("h"))))
      .select(col("h"), col("pairs_within"),
        col("share_micro"),
        (col("share_micro") >= 900000L &&
          coalesce(col("prev_share") < 900000L, lit(true)))
          .as("is_effective_diameter"))
  }

  /** x306: the distance distribution of the purchase graph from the
    * x285 pivot set — how small is the world, exactly.
    */
  def x306NeighborhoodFn(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), (col("l_suppkey") + 10000000L).as("supp"))
      .distinct()
    neighborhoodFunction(pairs, "cust", "supp", edgesDistinctDisjoint = true)
  }

  private val x306OracleSql: String = """
      WITH RECURSIVE pairs AS (
        SELECT DISTINCT o_custkey AS cust, l_suppkey + 10000000 AS supp
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      und AS (SELECT cust AS src, supp AS dst FROM pairs
              UNION SELECT supp, cust FROM pairs),
      pivots AS (SELECT src AS p FROM (SELECT DISTINCT src FROM und)
                 ORDER BY md5(CAST(src AS VARCHAR)), src LIMIT 8),
      walk(pv, node, d) AS (
        SELECT p, p, 0 FROM pivots
        UNION
        SELECT w.pv, u.dst, w.d + 1
        FROM walk w JOIN und u ON u.src = w.node
        WHERE w.d < 8),
      best AS (SELECT pv, node, min(d) AS d FROM walk GROUP BY pv, node),
      byd AS (SELECT d, CAST(count(*) AS BIGINT) AS cnt FROM best
              WHERE d > 0 GROUP BY d),
      spine AS (SELECT CAST(unnest(generate_series(1, 8)) AS BIGINT) AS h),
      cum AS (SELECT s.h,
                CAST(COALESCE((SELECT sum(cnt) FROM byd WHERE d <= s.h), 0) AS BIGINT)
                  AS pairs_within
              FROM spine s),
      tt AS (SELECT max(pairs_within) AS total FROM cum),
      sh AS (SELECT h, pairs_within,
               CAST((1000000 * pairs_within * 2 + total) // (2 * total) AS BIGINT)
                 AS share_micro
             FROM cum, tt)
      SELECT h, pairs_within, share_micro,
             (share_micro >= 900000 AND
              COALESCE(lag(share_micro) OVER (ORDER BY h) < 900000, TRUE))
               AS is_effective_diameter
      FROM sh ORDER BY h"""

  val entries: Seq[Entry] = Seq(
    Entry("x304_katz", x304Katz _, x304OracleSql),
    Entry("x305_betweenness", x305Betweenness _, x305OracleSql),
    Entry("x306_neighborhood_fn", x306NeighborhoodFn _, x306OracleSql))
}
