package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-fortieth extension batch — the graph tier's two
  * remaining cohesion classics:
  *
  *  - BUTTERFLY / CATERPILLAR CARD (x318): the bipartite motif counts
  *    (Wang et al. 2014; Lind et al. 2005) — butterflies B = 2×2
  *    bicliques via Σ_pairs C(codegree, 2), caterpillars P = 3-paths
  *    via Σ_edges (deg_u−1)(deg_v−1), and the bipartite clustering
  *    coefficient 4B/P. Triangles (x99) don't exist in a bipartite
  *    graph; butterflies are its cohesion unit.
  *  - K-TRUSS (x319): the edge-support peel (Cohen 2008) — repeatedly
  *    drop edges in fewer than k−2 triangles; the k-truss is the
  *    edge-cohesion refinement of the vertex k-core (x122), on the
  *    same co-purchase backbone so the two cuts diff directly.
  *
  * Determinism: pure exact counting; the one ratio renders half-up
  * micro. Widths: butterfly sums ride DECIMAL(38,0) — Σ C(cod,2) is
  * quadratic in codegree and a long wraps once a popular pair shares
  * ~3e9 neighbors' worth of wedge mass (the width rule).
  *
  * Scale: x318 enumerates wedges FROM THE SIDE WITH THE SMALLER
  * WEDGE MASS (Σ C(deg,2) measured first — the measure-then-act
  * planner discipline; B is side-symmetric so the answer is
  * identical); x319 is `iters` rounds of one triangle-support join +
  * one semi-join, the x122 shape with edge state.
  */
object Extensions140 {

  // ---- x318: butterfly / caterpillar card ---------------------------------------------

  /** One-row bipartite cohesion card: (n_left, n_right, n_edges,
    * butterflies, caterpillars, bclust_micro = halfup(4·B·10⁶, P);
    * 0 when P = 0).
    */
  def butterflyCard(
      edges: DataFrame, leftCol: String, rightCol: String): DataFrame = {
    val e = Extensions.materialized(
      edges.select(col(leftCol).cast("long").as("u"),
        col(rightCol).cast("long").as("v")).distinct())
    val degU = e.groupBy(col("u")).agg(count(lit(1)).as("du"))
    val degV = e.groupBy(col("v")).agg(count(lit(1)).as("dv"))
    // wedge mass per enumeration side: Σ C(deg,2) — pick the cheaper
    val massRow = degU.agg(
        sum(expr("CAST(du * (du - 1) DIV 2 AS DECIMAL(38,0))")).as("m"))
      .crossJoin(degV.agg(
        sum(expr("CAST(dv * (dv - 1) DIV 2 AS DECIMAL(38,0))")).as("mv")))
      .collect()(0)
    val fromRight =
      massRow.getDecimal(1).compareTo(massRow.getDecimal(0)) <= 0
    // wedges (x1, x2) through the enumeration side; codegree per pair
    val w =
      if (fromRight)
        e.as("a").join(e.as("b"),
            col("a.v") === col("b.v") && col("a.u") < col("b.u"))
          .groupBy(col("a.u").as("x1"), col("b.u").as("x2"))
          .agg(count(lit(1)).as("cod"))
      else
        e.as("a").join(e.as("b"),
            col("a.u") === col("b.u") && col("a.v") < col("b.v"))
          .groupBy(col("a.v").as("x1"), col("b.v").as("x2"))
          .agg(count(lit(1)).as("cod"))
    val bf = w.agg(
      sum(expr("CAST(cod * (cod - 1) DIV 2 AS DECIMAL(38,0))")).as("bb"))
    val cat = e.join(degU, Seq("u")).join(degV, Seq("v"))
      .agg(sum(((col("du") - 1) * (col("dv") - 1)).cast("decimal(38,0)"))
        .as("pp"))
    val counts = e.agg(
      countDistinct(col("u")).as("n_left"),
      countDistinct(col("v")).as("n_right"),
      count(lit(1)).as("n_edges"))
    counts.crossJoin(broadcast(bf)).crossJoin(broadcast(cat))
      .select(col("n_left"), col("n_right"), col("n_edges"),
        col("bb").cast("long").as("butterflies"),
        col("pp").cast("long").as("caterpillars"),
        when(col("pp") === 0, lit(0L))
          .otherwise(expr(
            "CAST((4 * bb * 1000000 * 2 + pp) DIV (2 * pp) AS BIGINT)"))
          .as("bclust_micro"))
  }

  /** x318: the customer–part purchase bipartite graph's motif card —
    * the x147 edge set under the cohesion lens.
    */
  def x318ButterflyCard(s: SparkSession, dir: String): DataFrame =
    butterflyCard(
      Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
        .distinct(),
      "cust", "part")

  /** The oracle enumerates wedges from the right (part) side; B is
    * side-symmetric, so whichever side the engine's mass planner
    * picks, the count is identical.
    */
  private val x318OracleSql: String = """
      WITH e AS (SELECT DISTINCT o_custkey AS u, l_partkey AS v
                 FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      du AS (SELECT u, CAST(count(*) AS BIGINT) AS du FROM e GROUP BY u),
      dv AS (SELECT v, CAST(count(*) AS BIGINT) AS dv FROM e GROUP BY v),
      w AS (SELECT a.u AS x1, b.u AS x2, CAST(count(*) AS BIGINT) AS cod
            FROM e a JOIN e b ON a.v = b.v AND a.u < b.u
            GROUP BY 1, 2),
      bf AS (SELECT CAST(sum(cod * (cod - 1) // 2) AS HUGEINT) AS bb FROM w),
      cat AS (SELECT CAST(sum((du.du - 1) * (dv.dv - 1)) AS HUGEINT) AS pp
              FROM e JOIN du ON du.u = e.u JOIN dv ON dv.v = e.v),
      cnts AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_left,
                      CAST(count(DISTINCT v) AS BIGINT) AS n_right,
                      CAST(count(*) AS BIGINT) AS n_edges
               FROM e)
      SELECT n_left, n_right, n_edges,
             CAST(bb AS BIGINT) AS butterflies,
             CAST(pp AS BIGINT) AS caterpillars,
             CAST(CASE WHEN pp = 0 THEN 0
                  ELSE (4 * bb * 1000000 * 2 + pp) // (2 * pp) END AS BIGINT)
               AS bclust_micro
      FROM cnts, bf, cat"""

  // ---- x319: k-truss ---------------------------------------------------------------------

  /** Edge-support peel: drop edges in fewer than k−2 triangles,
    * `iters` rounds (converged when no edge drops). Returns the
    * surviving edges with their final support: (a, b, support).
    * The x122 k-core loop with EDGE state — per round one
    * triangle-support join + one filter, survivors materialized.
    */
  def kTruss(
      edges: DataFrame, aCol: String, bCol: String, k: Int = 4,
      iters: Int = 4): DataFrame = {
    require(k >= 3, s"kTruss: k must be >= 3, got $k")
    var e = Extensions.materialized(
      edges.select(least(col(aCol), col(bCol)).as("a"),
          greatest(col(aCol), col(bCol)).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    def support(cur: DataFrame): DataFrame = {
      val und = cur.select(col("a").as("s"), col("b").as("t"))
        .unionAll(cur.select(col("b").as("s"), col("a").as("t")))
      cur.join(und.select(col("s").as("a"), col("t").as("w1")), Seq("a"))
        .join(und.select(col("s").as("b"), col("t").as("w2")), Seq("b"))
        .filter(col("w1") === col("w2"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    }
    for (_ <- 1 to iters) {
      val sup = support(e)
      e = Extensions.materialized(
        e.join(sup.filter(col("support") >= (k - 2).toLong)
          .select(col("a"), col("b")), Seq("a", "b"), "left_semi"))
    }
    e.join(support(e), Seq("a", "b"), "left_outer")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** x319: the 4-truss of the x99/x122 co-purchase backbone — edges in
    * ≥ 2 triangles after peeling, beside the vertex 3-core. The
    * backbone is built from a FIXED supplier slice (the x297/x286
    * calibration-card discipline): backbone nodes are suppliers, so
    * its edge density grows with the supplier catalog and the
    * full-graph truss costs minutes at sf0.1 (measured 205s,
    * exponent 0.97 — linear but a bench-breaking constant; a
    * customer-only slice still read 227s because 1.5k customers x
    * the FULL supplier catalog stays dense). The sliced card is
    * corpus-invariant and ≡ the full card at sf ≤ 0.01; corpus-scale
    * cohesion stays with x122's vertex core (cheap) and the API
    * `kTruss` runs any graph.
    */
  def x319KTruss(s: SparkSession, dir: String): DataFrame = {
    val cs = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
      .filter(col("sp") < 100L).distinct()
    val shared = cs.as("x").join(cs.as("y"),
        col("x.c") === col("y.c") && col("x.sp") < col("y.sp"))
      .groupBy(col("x.sp").as("s1"), col("y.sp").as("s2"))
      .agg(count(lit(1)).as("shared"))
    val tot = shared.agg(count(lit(1)).as("np"), sum(col("shared")).as("ts"))
    val backbone = shared.crossJoin(broadcast(tot))
      .filter(col("shared") * col("np") > col("ts"))
      .select(col("s1"), col("s2"))
    kTruss(backbone, "s1", "s2")
  }

  private val x319OracleSql: String = {
    val head = """WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
                  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
                  WHERE l_suppkey < 100),
      shared AS (SELECT x.sp AS s1, y.sp AS s2, count(*) AS shared
                 FROM cs x JOIN cs y ON x.c = y.c AND x.sp < y.sp
                 GROUP BY 1, 2),
      tot AS (SELECT count(*) AS np, CAST(sum(shared) AS BIGINT) AS ts FROM shared),
      e0 AS MATERIALIZED (SELECT least(s1, s2) AS a, greatest(s1, s2) AS b
                          FROM shared, tot WHERE shared * np > ts)"""
    def supCte(r: Int, src: String): String =
      s"""u$r AS (SELECT a AS s, b AS t FROM $src
                  UNION ALL SELECT b, a FROM $src),
      sp$r AS (SELECT e.a, e.b, CAST(count(*) AS BIGINT) AS support
               FROM $src e
               JOIN u$r w1 ON w1.s = e.a
               JOIN u$r w2 ON w2.s = e.b AND w2.t = w1.t
               GROUP BY e.a, e.b)"""
    val rounds = (1 to 4).map { r =>
      s"""
      ${supCte(r, s"e${r - 1}")},
      e$r AS MATERIALIZED (SELECT e.a, e.b FROM e${r - 1} e
              JOIN sp$r s ON s.a = e.a AND s.b = e.b
              WHERE s.support >= 2)"""
    }.mkString(",")
    s"""$head,$rounds,
      ${supCte(9, "e4")}
      SELECT e.a, e.b, COALESCE(s.support, 0) AS support
      FROM e4 e LEFT JOIN sp9 s ON s.a = e.a AND s.b = e.b
      ORDER BY e.a, e.b"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x318_butterfly_card", x318ButterflyCard _, x318OracleSql),
    Entry("x319_ktruss", x319KTruss _, x319OracleSql))
}
