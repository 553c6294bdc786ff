package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Ninety-second extension batch — the directed rank, under the oracle:
  *
  *  - directed-flow PageRank (x211): x96 ranks the SYMMETRIZED purchase
  *    graph, where the dangling-mass correction and the keep-base left
  *    join are provably no-ops — so the round-7 dangling fix (commit
  *    84b0ace) sat under spec fixtures only. This query ranks the
  *    genuinely DIRECTED customer→supplier flow (no symmetrization):
  *    every supplier is a sink (no out-edges), every customer has no
  *    inflow, so the general loop's dangling redistribution and
  *    teleport-floor paths BOTH fire on every round — and the generated
  *    DuckDB replay carries the dangling-mass CTE chain, putting the
  *    corrected semantics under the oracle hash.
  *
  * Determinism discipline: identical to x96 — micro-unit integer
  * ranks, half-away division everywhere, fixed rounds; the oracle is
  * the same generated chained-CTE power iteration extended with the
  * per-round sink-mass scalar.
  */
object Extensions92 {

  /** x211: 6-round directed PageRank over customer→supplier purchase
    * edges (suppliers offset by 10^7 in the shared id space; sinks by
    * construction). Output: (node_type, node_id, rank_micro).
    *
    * Scale shape: [[Extensions28.pageRank]]'s general loop — per round
    * one rank⋈edges join + dst hash-agg, one O(1)-row dangling agg
    * broadcast back, one nodes left join; every per-round table except
    * edges is O(nodes).
    */
  def x211DirectedPageRank(s: SparkSession, dir: String): DataFrame = {
    val edges = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"),
        (col("l_suppkey") + 10000000L).as("dst"))
      .distinct()
    Extensions28.pageRank(edges, "src", "dst", iters = 6)
      .select(
        when(col("node") >= 10000000L, lit("supplier")).otherwise(lit("customer"))
          .as("node_type"),
        when(col("node") >= 10000000L, col("node") - 10000000L).otherwise(col("node"))
          .as("node_id"),
        col("rank_micro"))
  }

  private val x211OracleSql: String = {
    def halfAway(num: String, den: String) = s"(($num) * 2 + ($den)) // (2 * ($den))"
    val rounds = (1 to 6).map { t =>
      s"""
    dg$t AS (SELECT CAST(coalesce(sum(r.r), 0) AS BIGINT) AS dg
             FROM r${t - 1} r JOIN sinks sk ON sk.node = r.node),
    r$t AS MATERIALIZED (
      SELECT nd.node,
             b.base + ${halfAway(
        s"85 * (coalesce(c.s, 0) + ${halfAway("dg.dg", "nn.n")})", "100")} AS r
      FROM nodes nd
      LEFT JOIN (SELECT ed.dst, CAST(sum(${halfAway("r.r", "ed.d")}) AS BIGINT) AS s
                 FROM ed JOIN r${t - 1} r ON ed.src = r.node
                 GROUP BY ed.dst) c ON c.dst = nd.node
      CROSS JOIN dg$t dg CROSS JOIN nn CROSS JOIN b)"""
    }.mkString(",")
    s"""
    WITH e AS (SELECT DISTINCT o_custkey AS src, l_suppkey + 10000000 AS dst
               FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
    ed AS MATERIALIZED (SELECT e.src, e.dst, deg.d FROM e JOIN deg USING (src)),
    nodes AS MATERIALIZED (
      SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
    sinks AS (SELECT nd.node FROM nodes nd
              WHERE NOT EXISTS (SELECT 1 FROM ed WHERE ed.src = nd.node)),
    nn AS (SELECT count(*) AS n FROM nodes),
    b AS (SELECT ${halfAway("150000", "n")} AS base FROM nn),
    r0 AS MATERIALIZED (
      SELECT node, ${halfAway("1000000", "n")} AS r FROM nodes, nn),$rounds
    SELECT CASE WHEN node >= 10000000 THEN 'supplier' ELSE 'customer' END AS node_type,
           CASE WHEN node >= 10000000 THEN node - 10000000 ELSE node END AS node_id,
           CAST(r AS BIGINT) AS rank_micro
    FROM r6
    ORDER BY node_type, node_id"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x211_directed_pagerank", x211DirectedPageRank _, x211OracleSql))
}
