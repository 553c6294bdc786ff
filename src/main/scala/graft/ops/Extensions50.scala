package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Fiftieth extension batch — scoring the structures the engine builds:
  *
  *  - rank-biased overlap (x131): Webber et al. 2010's top-weighted
  *    ranking agreement — how much do two rankings of the same queries
  *    agree, weighting rank 1 most? Applied to cosine-vs-dot retrieval
  *    (does norm information change results?); the metric the x128
  *    overlap@5 approximates with uniform weights.
  *  - degree assortativity (x132): Newman 2002's degree-correlation
  *    coefficient — do hubs attach to hubs (r > 0) or to leaves
  *    (r < 0)? One edge-table aggregation; the graph-shape prior that
  *    decides whether hub-salting (Scale.saltedJoin) will matter.
  *  - community metrics (x133): modularity + per-community conductance
  *    of the x100 label-propagation partition — the "are these
  *    communities real" eval (Newman & Girvan 2004): Q ≫ 0 means the
  *    partition beats the degree-preserving random graph.
  *
  * Determinism discipline: x131's dot ranking is EXACT (integer dot of
  * micro-quantized vectors — no float enters that ranking) and each
  * depth's RBO contribution quantizes to micro before the sum, with the
  * geometric weights generated by literal repeated multiplication (the
  * x118 no-libm-pow rule); x132/x133 reduce to exact integer moment
  * identities with a single sign-split half-away division at the end.
  */
object Extensions50 {

  // ---- x131: rank-biased overlap ----------------------------------------------

  /** Per-depth RBO_EXT weights: (1−p)·p^{d−1} for d < k, and — the
    * Webber extrapolation, which assumes the depth-k agreement holds
    * beyond the truncation — (1−p)·p^{k−1} + p^k folded into the last
    * depth (both terms are linear in inter_k/k). Repeated
    * multiplication only (the x118 no-libm-pow rule); identical lists
    * read exactly 1.0. Shared with the generated oracle so BOTH engines
    * consume bit-identical weight literals.
    */
  private[ops] def rboWeights(k: Int, p: Double): Seq[Double] = {
    val bases = (1 to k).scanLeft(1.0)((acc, _) => acc * p).take(k)
    bases.zipWithIndex.map { case (b, i) =>
      if (i == k - 1) b * (1.0 - p) + b * p else b * (1.0 - p)
    }
  }

  /** RBO_EXT@k between two rankings of the same query set. `a`/`b`:
    * (q_id, c_id, rk) with rk 1..k. RBO_q = Σ_{d≤k} w_d·|A_d ∩ B_d|/d
    * with the [[rboWeights]] extrapolated weights (identical lists →
    * 1.0). Output per query (q_id, rbo) with the corpus mean_rbo
    * repeated; each depth contribution quantizes to micro before the
    * sum.
    *
    * Scale: one equi-join of the two O(q·k) ranking tables + a
    * broadcast depth spine — nothing corpus-sized.
    */
  def rankBiasedOverlap(
      a: DataFrame, b: DataFrame, k: Int = 5, p: Double = 0.9): DataFrame = {
    require(k >= 1 && p > 0 && p < 1)
    val s = a.sparkSession
    import s.implicits._
    val weights = rboWeights(k, p)
    val spine = broadcast(
      weights.zipWithIndex.map { case (w, i) => (i + 1L, w) }
        .toDF("d", "w"))
    // r15 note: materializing a/b here was tried and measured SLOWER
    // (x131 3.9 → 8.0 s) — the planner already shares the retrieval
    // pipeline between the match join and the query spine via exchange
    // reuse, and the eager checkpoints broke that sharing. Left lazy.
    val matched = a.select(col("q_id"), col("c_id"), col("rk").as("rka"))
      .join(b.select(col("q_id"), col("c_id"), col("rk").as("rkb")),
        Seq("q_id", "c_id"))
    val qs = a.select(col("q_id")).distinct()
    val perDepth = qs.crossJoin(spine)
      .join(matched, Seq("q_id"), "left_outer")
      .groupBy(col("q_id"), col("d"), col("w"))
      .agg(sum(when(col("rka") <= col("d") && col("rkb") <= col("d"), 1L)
        .otherwise(0L)).as("inter"))
      .select(col("q_id"),
        round(lit(1e6) * col("w") * col("inter") / col("d"), 0).cast("long")
          .as("c_micro"))
    val perQ = Extensions.materialized(
      perDepth.groupBy(col("q_id"))
        .agg(sum(col("c_micro")).as("rbo_micro")))
    val tot = perQ.agg(sum(col("rbo_micro")).as("sm"),
      count(lit(1)).as("nq"))
    perQ.crossJoin(broadcast(tot))
      .select(col("q_id"),
        Extensions.round4o(col("rbo_micro") / lit(1e6)).as("rbo"),
        Extensions.round4o(col("sm") / (lit(1e6) * col("nq"))).as("mean_rbo"))
  }

  /** x131: RBO between BM25 and 3-gram-Jaccard document retrieval
    * (queries 0..4, top-5 each) — two lexical systems that genuinely
    * disagree, so the metric reads between 0 and 1 (a Jaccard list
    * shorter than 5 caps the achievable agreement — documented
    * truncated-B behavior).
    */
  def x131Rbo(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val q = d.filter(col("doc_id") < 5)
    val a = Extensions4.bm25TopK(d, q, "doc_id", "text", k = 5)
      .select(col("q_id"), col("c_id"), col("rk"))
    val b = Extensions4.jaccardTopK(d, q, "doc_id", "text", k = 5,
        shingleSize = 3)
      .select(col("q_id"), col("c_id"), col("rk"))
    rankBiasedOverlap(a, b)
  }

  private val x131OracleSql: String = {
    val sp = rboWeights(5, 0.9).zipWithIndex.map { case (w, i) =>
      s"SELECT CAST(${i + 1} AS BIGINT) AS d, CAST(${w.toString} AS DOUBLE) AS w"
    }.mkString("\n             UNION ALL ")
    s"""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      tf AS (SELECT doc_id AS c_id, len(tk) AS dl, u.term, count(*) AS tf
             FROM d, UNNEST(tk) AS u(term)
             GROUP BY 1, 2, 3),
      stats AS (SELECT count(*) AS n_docs, sum(len(tk)) AS sum_dl FROM d),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      qt AS (SELECT doc_id AS q_id, u.term
             FROM d, UNNEST(list_distinct(tk)) AS u(term)
             WHERE doc_id < 5),
      bscored AS (
        SELECT qt.q_id, tf.c_id,
               round(sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                     * tf.tf * (1.2 + 1.0)
                     / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl * s.n_docs / s.sum_dl))), 4)
                 AS score
        FROM qt
        JOIN tf ON tf.term = qt.term AND tf.c_id <> qt.q_id
        JOIN df ON df.term = qt.term
        CROSS JOIN stats s
        GROUP BY 1, 2),
      bm25r AS (SELECT q_id, c_id, CAST(rk AS BIGINT) AS rk FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rk
          FROM bscored)
        WHERE rk <= 5),
      sh0 AS (SELECT doc_id,
                     CASE WHEN len(tk) >= 3 THEN array_to_string(tk[i:i+2], ' ')
                          ELSE array_to_string(tk, ' ') END AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(tk) >= 3 THEN len(tk)-2 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      qsh AS (SELECT doc_id, sh FROM sh WHERE doc_id < 5),
      hits AS (SELECT q.doc_id AS q_id, c.doc_id AS c_id, count(*) AS shared
               FROM sh c JOIN qsh q ON c.sh = q.sh AND c.doc_id <> q.doc_id
               GROUP BY 1, 2),
      jscored AS (SELECT q_id, c_id,
                         round(shared * 1.0 / (cq.n_sh + cc.n_sh - shared) * 10000.0, 0) / 10000.0 AS jaccard
                  FROM hits
                  JOIN cnt cq ON cq.doc_id = q_id
                  JOIN cnt cc ON cc.doc_id = c_id),
      jacr AS (SELECT q_id, c_id, CAST(rk AS BIGINT) AS rk FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY jaccard DESC, c_id) AS rk
          FROM jscored)
        WHERE rk <= 5),
      sp AS ($sp),
      m AS (SELECT a.q_id, a.rk AS rka, b.rk AS rkb
            FROM bm25r a JOIN jacr b ON a.q_id = b.q_id AND a.c_id = b.c_id),
      qs AS (SELECT DISTINCT q_id FROM bm25r),
      pd AS (SELECT qs.q_id, sp.d,
               CAST(round(1e6 * sp.w * (
                 SELECT count(*) FROM m
                 WHERE m.q_id = qs.q_id AND m.rka <= sp.d AND m.rkb <= sp.d
               ) / sp.d, 0) AS BIGINT) AS c_micro
             FROM qs CROSS JOIN sp),
      pq AS (SELECT q_id, CAST(sum(c_micro) AS BIGINT) AS rbo_micro
             FROM pd GROUP BY q_id),
      tot AS (SELECT CAST(sum(rbo_micro) AS BIGINT) AS sm, count(*) AS nq FROM pq)
      SELECT q_id,
             round(rbo_micro / 1e6 * 10000.0, 0) / 10000.0 AS rbo,
             round(sm / (1e6 * nq) * 10000.0, 0) / 10000.0 AS mean_rbo
      FROM pq, tot
      ORDER BY q_id"""
  }

  // ---- x132: degree assortativity ---------------------------------------------

  /** Newman degree-assortativity of an undirected edge list:
    * r = (4M·Σjk − (Σ(j+k))²) / (2M·Σ(j²+k²) − (Σ(j+k))²) over edges
    * with endpoint degrees (j, k) — all moments exact longs, one
    * sign-split half-away 4dp division; NULL when every degree is
    * equal (zero variance). Output (n_nodes, n_edges, assortativity).
    */
  def assortativity(
      edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = Extensions.materialized(
      edges.select(least(col(aCol), col(bCol)).as("a"),
          greatest(col(aCol), col(bCol)).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    val mom = e
      .join(deg.select(col("node").as("a"), col("dg").as("ja")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("dg").as("kb")), Seq("b"))
      .agg(count(lit(1)).as("m"),
        sum(col("ja") * col("kb")).as("sjk"),
        sum(col("ja") + col("kb")).as("ssum"),
        sum(col("ja") * col("ja") + col("kb") * col("kb")).as("ssq"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    // The MOMENTS fit a long at any realistic scale (Σjk ≤ E·dmax² —
    // ~10^14 at sf1), but the Newman numerator 4M·Σjk does NOT: the sf1
    // scaling audit hit ARITHMETIC_OVERFLOW here at 10× (4·10^6·10^14 ≈
    // 4·10^20 > 2^63). The composition is ONE row of four longs, so it
    // moves to the driver as exact BigInt arithmetic — an O(1) collect,
    // same half-away 4dp render, no width limit.
    val spark = edges.sparkSession
    import spark.implicits._
    val r = mom.crossJoin(broadcast(nodes)).head()
    def lv(i: Int): BigInt = if (r.isNullAt(i)) BigInt(0) else BigInt(r.getLong(i))
    val (m, sjk, ssum, ssq, nNodes) = (lv(0), lv(1), lv(2), lv(3), lv(4))
    val num = 4 * m * sjk - ssum * ssum
    val den = 2 * m * ssq - ssum * ssum
    val assort: java.lang.Double =
      if (den == 0) null
      else java.lang.Double.valueOf(
        (BigDecimal(num.signum * ((num.abs * 10000 * 2 + den) / (2 * den))) /
          BigDecimal(10000)).toDouble)
    Seq((nNodes.toLong, m.toLong))
      .toDF("n_nodes", "n_edges")
      .withColumn("assortativity", lit(assort).cast("double"))
  }

  /** x132: assortativity of the x99 co-purchase backbone. */
  def x132Assortativity(s: SparkSession, dir: String): DataFrame = {
    val cs = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sp")).distinct()
    val shared = cs.as("x").join(cs.as("y"),
        col("x.c") === col("y.c") && col("x.sp") < col("y.sp"))
      .groupBy(col("x.sp").as("s1"), col("y.sp").as("s2"))
      .agg(count(lit(1)).as("shared"))
    val tot = shared.agg(count(lit(1)).as("np"), sum(col("shared")).as("ts"))
    val backbone = shared.crossJoin(broadcast(tot))
      .filter(col("shared") * col("np") > col("ts"))
      .select(col("s1"), col("s2"))
    assortativity(backbone, "s1", "s2")
  }

  private val x132OracleSql: String = """
      WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
                  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      shared AS (SELECT x.sp AS s1, y.sp AS s2, count(*) AS shared
                 FROM cs x JOIN cs y ON x.c = y.c AND x.sp < y.sp
                 GROUP BY 1, 2),
      tot AS (SELECT count(*) AS np, CAST(sum(shared) AS BIGINT) AS ts FROM shared),
      e AS MATERIALIZED (SELECT s1 AS a, s2 AS b FROM shared, tot
                         WHERE shared * np > ts),
      deg AS (SELECT node, CAST(count(*) AS BIGINT) AS dg FROM (
                SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1),
      mom AS (SELECT CAST(count(*) AS BIGINT) AS m,
                CAST(sum(da.dg * db.dg) AS BIGINT) AS sjk,
                CAST(sum(da.dg + db.dg) AS BIGINT) AS ssum,
                CAST(sum(da.dg * da.dg + db.dg * db.dg) AS BIGINT) AS ssq
              FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b),
      nn AS (SELECT count(*) AS n_nodes FROM deg)
      SELECT nn.n_nodes, mom.m AS n_edges,
             CASE WHEN (2 * mom.m * mom.ssq - mom.ssum * mom.ssum) = 0 THEN NULL
                  ELSE (CAST(sign(4 * mom.m * mom.sjk - mom.ssum * mom.ssum) AS BIGINT)
                        * ((abs(4 * mom.m * mom.sjk - mom.ssum * mom.ssum) * 10000 * 2
                            + (2 * mom.m * mom.ssq - mom.ssum * mom.ssum))
                           // (2 * (2 * mom.m * mom.ssq - mom.ssum * mom.ssum)))) / 10000.0
             END AS assortativity
      FROM mom, nn"""

  // ---- x133: community metrics (modularity + conductance) ---------------------

  /** Modularity and per-community conductance of a labeled partition of
    * an undirected graph. `labels`: (node, community). Per community:
    * n_nodes, internal_edges e_c, degree_sum d_c, conductance =
    * (d_c − 2e_c)/min(d_c, 2m − d_c) (NULL when the denominator is 0);
    * plus the partition-constant modularity Q = Σ_c(4m·e_c − d_c²)/4m²
    * repeated per row — both via sign-split half-away 4dp division.
    * Headroom: 4m·e_c·10⁴ < 2^63 — fine to ~10⁷ edges; beyond, rescale
    * to Q's unreduced rational per community first.
    *
    * Scale: edges normalize once; TWO label joins (endpoints) + two
    * hash-aggs; every division happens on the ≤ communities table.
    */
  def communityMetrics(
      edges: DataFrame, labels: DataFrame, aCol: String, bCol: String,
      nodeCol: String, commCol: String): DataFrame = {
    val e = Extensions.materialized(
      edges.select(least(col(aCol), col(bCol)).as("a"),
          greatest(col(aCol), col(bCol)).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    val lab = labels.select(col(nodeCol).as("node"), col(commCol).as("comm"))
    val labeled = e
      .join(lab.select(col("node").as("a"), col("comm").as("ca")), Seq("a"))
      .join(lab.select(col("node").as("b"), col("comm").as("cb")), Seq("b"))
    val internal = labeled.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("comm")).agg(count(lit(1)).as("e_c"))
    val degC = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .join(lab, Seq("node"))
      .groupBy(col("comm"))
      .agg(count(lit(1)).as("d_c"), count_distinct(col("node")).as("n_nodes"))
    val m = e.agg(count(lit(1)).as("m"))
    val per = Extensions.materialized(
      degC.join(internal, Seq("comm"), "left_outer")
        .select(col("comm"), col("n_nodes"), col("d_c"),
          coalesce(col("e_c"), lit(0L)).as("e_c"))
        .crossJoin(broadcast(m)))
    val qTot = per.agg(
      sum(lit(4L) * col("m") * col("e_c") - col("d_c") * col("d_c")).as("qnum"),
      max(col("m")).as("m"))
    per.crossJoin(broadcast(qTot.select(col("qnum"),
        (lit(4L) * col("m") * col("m")).as("qden"))))
      .select(col("comm").as("community"), col("n_nodes"),
        col("e_c").as("internal_edges"), col("d_c").as("degree_sum"),
        (col("d_c") - lit(2L) * col("e_c")).as("cut"),
        least(col("d_c"), lit(2L) * col("m") - col("d_c")).as("cden"),
        col("qnum"), col("qden"))
      .select(col("community"), col("n_nodes"), col("internal_edges"),
        col("degree_sum"),
        when(col("cden") === 0L, lit(null).cast("double"))
          .otherwise(expr(
            "(CAST(sign(cut) AS BIGINT) * ((abs(cut) * 10000 * 2 + cden) DIV (2 * cden))) / 10000.0D"))
          .as("conductance"),
        expr("(CAST(sign(qnum) AS BIGINT) * ((abs(qnum) * 10000 * 2 + qden) DIV (2 * qden))) / 10000.0D")
          .as("modularity"))
  }

  /** x133: metrics of the x100 label-propagation partition over the
    * same purchase graph. Oracle = the x100 replay chain + the same
    * integer identities.
    */
  def x133CommunityMetrics(s: SparkSession, dir: String): DataFrame = {
    val pairs = Extensions.materialized(Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), (col("l_suppkey") + 10000000L).as("supp"))
      .distinct())
    val comm = Extensions30.labelPropagation(pairs, "cust", "supp")
    communityMetrics(pairs, comm, "cust", "supp", "node", "community")
  }

  private val x133OracleSql: String = Extensions30.lpOracleChain(5) + """,
    eu AS MATERIALIZED (SELECT least(cust, supp) AS a, greatest(cust, supp) AS b
                        FROM pairs),
    lab AS (SELECT node, label AS comm FROM l5),
    labe AS (SELECT eu.a, eu.b, la.comm AS ca, lb.comm AS cb
             FROM eu JOIN lab la ON la.node = eu.a
                     JOIN lab lb ON lb.node = eu.b),
    internal AS (SELECT ca AS comm, CAST(count(*) AS BIGINT) AS e_c
                 FROM labe WHERE ca = cb GROUP BY 1),
    degc AS (SELECT lab.comm, CAST(count(*) AS BIGINT) AS d_c,
                    CAST(count(DISTINCT nd.node) AS BIGINT) AS n_nodes
             FROM (SELECT a AS node FROM eu UNION ALL SELECT b FROM eu) nd
             JOIN lab ON lab.node = nd.node
             GROUP BY lab.comm),
    mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM eu),
    per AS (SELECT d.comm, d.n_nodes, d.d_c,
                   COALESCE(i.e_c, 0) AS e_c, mm.m
            FROM degc d LEFT JOIN internal i USING (comm), mm),
    qt AS (SELECT CAST(sum(4 * m * e_c - d_c * d_c) AS BIGINT) AS qnum,
                  CAST(max(m) AS BIGINT) AS m
           FROM per)
    SELECT per.comm AS community, per.n_nodes, per.e_c AS internal_edges,
           per.d_c AS degree_sum,
           CASE WHEN least(per.d_c, 2 * per.m - per.d_c) = 0 THEN NULL
                ELSE (CAST(sign(per.d_c - 2 * per.e_c) AS BIGINT)
                      * ((abs(per.d_c - 2 * per.e_c) * 10000 * 2
                          + least(per.d_c, 2 * per.m - per.d_c))
                         // (2 * least(per.d_c, 2 * per.m - per.d_c)))) / 10000.0
           END AS conductance,
           (CAST(sign(qt.qnum) AS BIGINT)
             * ((abs(qt.qnum) * 10000 * 2 + 4 * qt.m * qt.m)
                // (2 * 4 * qt.m * qt.m))) / 10000.0 AS modularity
    FROM per, qt
    ORDER BY community"""

  val entries: Seq[Entry] = Seq(
    Entry("x131_rbo", x131Rbo _, x131OracleSql),
    Entry("x132_assortativity", x132Assortativity _, x132OracleSql),
    Entry("x133_community_metrics", x133CommunityMetrics _, x133OracleSql))
}
