package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-twenty-ninth extension batch — two families rounding out
  * the time-series and graph tiers:
  *
  *  - DAMPED HOLT FORECAST (x284): the time-series tier measures
  *    (EWMA, CUSUM, changepoint, Theil–Sen, Mann–Kendall, seasonality)
  *    but never FORECASTS. Damped Holt (Gardner & McKenzie 1985) is the
  *    workhorse short-horizon forecaster: level + damped trend, the
  *    M-competition's most robust simple method. All-integer micro
  *    recursion with HALF-AWAY-FROM-ZERO division (the trend is
  *    signed, and Spark `div` truncates while DuckDB `//` floors — the
  *    sign-split makes both engines replay the recursion bit-identically).
  *
  *  - TRUNCATED HARMONIC CENTRALITY (x285): the graph tier ranks by
  *    eigen-methods (PageRank, HITS) and cohesion (k-core, triangles)
  *    but has no DISTANCE-based centrality. Harmonic centrality
  *    (Boldi & Vigna 2014) from a deterministic md5-sampled pivot set,
  *    truncated at `maxHops` — the standard sampled estimator: exact
  *    multi-source BFS from K pivots, Σ 1/d per node over pivots that
  *    reach it within the radius.
  *
  * Scale notes: x284 aggregates the corpus to O(days) rows (one
  * hash-agg), and the recursion is O(days) driver-side — the same
  * bounded-series shape as the x94 GD loop; forecasting is a property
  * of the SERIES, not the event volume. x285's state is K·V (pivot,
  * node) distances; each BFS round is one frontier⋈edges join
  * partitioned on the node key, rounds bounded by min(diameter,
  * maxHops) — the canonical distributed BFS. Pivot sampling holds K
  * constant as V grows, so cost is linear in E.
  */
object Extensions129 {

  /** Half-away-from-zero integer division of micro quantities — the
    * signed extension of the house half-up formula. Used identically
    * in the Scala fold and the oracle's recursive CTE.
    */
  private def sdiv(num: Long, den: Long): Long = {
    require(den > 0)
    if (num >= 0L) (num * 2 + den) / (2 * den)
    else -(((-num) * 2 + den) / (2 * den))
  }

  /** [[sdiv]] over BigInt — same half-away-from-zero semantics, for
    * one-row compositions whose intermediate product can exceed 2^63
    * (the x132 width discipline).
    */
  private def sdivBig(num: BigInt, den: BigInt): BigInt = {
    require(den > 0)
    if (num >= 0) (num * 2 + den) / (2 * den)
    else -(((-num) * 2 + den) / (2 * den))
  }

  /** Damped Holt over a daily count series: alpha = 1/5, beta = 1/10,
    * phi = 9/10 (micro-exact rationals). Initialization l1 = 10^6·y1,
    * b1 = 10^6·(y2 − y1); recursion for t ≥ 2:
    *   l_t = 200000·y_t + sdiv(8·(l + sdiv(9·b, 10)), 10)
    *   b_t = sdiv(l_t − l, 10) + sdiv(81·b, 100)
    * Forecast ŷ(h) = l_T + sdiv(S_h·b_T, 10^h) where S_h = Σ_{i≤h} 9^i·10^{h−i}
    * (the damped trend sum as one exact rational per horizon).
    * Output: (h, yhat_micro, level_micro, trend_micro) for h = 1..horizon.
    */
  def holtDampedForecast(
      events: DataFrame, tsCol: String, horizon: Int = 7): DataFrame = {
    require(horizon >= 1 && horizon <= 12)
    val spark = events.sparkSession
    import spark.implicits._
    // one corpus hash-agg to the bounded day series; the recursion is
    // O(days) on exact integers
    val series = events
      .select(to_date(col(tsCol)).as("d"))
      .groupBy(col("d")).agg(count(lit(1)).as("y"))
      .orderBy(col("d"))
      .collect().map(_.getLong(1))
    require(series.length >= 2, "holtDampedForecast needs at least two days")
    var l = series(0) * 1000000L
    var b = (series(1) - series(0)) * 1000000L
    series.iterator.zipWithIndex.drop(1).foreach { case (y, _) =>
      val damped = l + sdiv(9L * b, 10L)
      val l1 = 200000L * y + sdiv(8L * damped, 10L)
      b = sdiv(l1 - l, 10L) + sdiv(81L * b, 100L)
      l = l1
    }
    val rows = (1 to horizon).map { h =>
      // S_h = sum_{i=1..h} 9^i 10^(h-i); den = 10^h
      var num = 0L; var den = 1L
      (1 to h).foreach { _ => num = num * 10L; den = den * 10L }
      var p9 = 1L; var p10 = den
      (1 to h).foreach { i =>
        p9 *= 9L; p10 /= 10L
        num += p9 * p10
      }
      // The composition num·b overflows Long silently: at h=12,
      // num ≈ 6.5e12, so any |b| > ~1.4e6 micro (1.4 events/day of
      // trend) wraps past 2^63 — and the verified fixture only drives
      // horizon 7, so the hash gate never sees it. One-row driver
      // compositions of aggregated longs go through BigInt (the x132
      // assortativity fix); the inputs (l, b, num, den) all still fit
      // longs at any realistic scale.
      val yhatBig = BigInt(l) + sdivBig(BigInt(num) * BigInt(b), BigInt(den))
      require(yhatBig.isValidLong,
        s"holtDampedForecast yhat at h=$h exceeds Long (l=$l b=$b)")
      (h, yhatBig.toLong, l, b)
    }
    rows.toDF("h", "yhat_micro", "level_micro", "trend_micro")
  }

  def x284HoltForecast(s: SparkSession, dir: String): DataFrame =
    holtDampedForecast(Tables.load(s, dir, "events"), "ts")

  /** The oracle replays the recursion as a recursive CTE with the same
    * sign-split division (DuckDB `//` floors where Spark's driver fold
    * truncates — identical only because every numerator is made
    * non-negative before dividing).
    */
  private val x284OracleSql: String = {
    // sign-split division emitted programmatically — hand-inlining it
    // invites the unary-minus precedence bug (-X // d floors BEFORE the
    // negation), which is exactly the Spark-div-vs-DuckDB-floor drift
    // the sign-split exists to prevent
    def sdiv(num: String, den: String): String =
      s"(CASE WHEN ($num) >= 0 THEN (($num) * 2 + $den) // (2 * ($den)) " +
        s"ELSE -(((-($num)) * 2 + $den) // (2 * ($den))) END)"
    val damped = s"(h.l + ${sdiv("9 * h.b", "10")})"
    val lNew = s"(200000 * o.y + ${sdiv(s"8 * $damped", "10")})"
    val bNew = s"(${sdiv(s"$lNew - h.l", "10")} + ${sdiv("81 * h.b", "100")})"
    s"""
      WITH RECURSIVE days AS (
        SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1),
      ord AS (SELECT row_number() OVER (ORDER BY d) AS t, y FROM days),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ord),
      holt(t, l, b) AS (
        SELECT CAST(1 AS BIGINT),
               (SELECT y * 1000000 FROM ord WHERE t = 1),
               (SELECT (o2.y - o1.y) * 1000000 FROM ord o1, ord o2
                 WHERE o1.t = 1 AND o2.t = 2)
        UNION ALL
        SELECT h.t + 1, $lNew, $bNew
        FROM holt h JOIN ord o ON o.t = h.t + 1),
      fin AS (SELECT l, b FROM holt, nn WHERE t = n),
      hs AS (SELECT i AS h FROM UNNEST(generate_series(1, 7)) u(i)),
      sums AS (SELECT h,
                 CAST((SELECT sum(CAST(pow(9, i) * pow(10, h - i) AS BIGINT))
                       FROM UNNEST(generate_series(1, h)) g(i)) AS BIGINT) AS snum,
                 CAST(pow(10, h) AS BIGINT) AS sden
               FROM hs)
      SELECT CAST(h AS INT) AS h,
             CAST(l + ${sdiv("snum * b", "sden")} AS BIGINT) AS yhat_micro,
             l AS level_micro, b AS trend_micro
      FROM fin, sums
      ORDER BY h"""
  }

  // ---- x285: truncated harmonic centrality -----------------------------------

  /** Truncated harmonic centrality from `nPivots` md5-sampled pivot
    * nodes: exact multi-source BFS (one frontier⋈edges round per hop,
    * first-arrival distance via anti-join), then per node
    * Σ_{pivots with 0 < d ≤ maxHops} halfup(10^6 / d). Returns
    * (node, n_reached, harmonic_micro) for nodes reached by ≥ 1 pivot.
    */
  def harmonicCentrality(
      edges: DataFrame, srcCol: String, dstCol: String,
      nPivots: Int = 8, maxHops: Int = 8,
      edgesDistinctDisjoint: Boolean = false): DataFrame = {
    require(nPivots >= 1 && maxHops >= 1)
    val spark = edges.sparkSession
    import spark.implicits._
    // r15 (guide §2.4): with edgesDistinctDisjoint the caller guarantees
    // unique edge rows over disjoint src/dst id spaces (the bipartite
    // purchase graph), so the two directions cannot collide — one
    // materialized copy + its swapped projection replaces re-computing
    // the edge subtree per direction and the distinct of 2E rows (x96
    // shape).
    val und =
      if (edgesDistinctDisjoint) {
        val p = Extensions.materialized(
          edges.select(col(srcCol).cast("long").as("src"),
            col(dstCol).cast("long").as("dst")))
        p.unionAll(p.select(col("dst").as("src"), col("src").as("dst")))
      } else Extensions.materialized(
        edges.select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
          .unionAll(edges.select(col(dstCol).cast("long").as("src"),
            col(srcCol).cast("long").as("dst")))
          .distinct())
    // deterministic pivot draw: lowest md5 of the node id string
    val pivots = und.select(col("src").as("node")).distinct()
      .orderBy(md5(col("node").cast("string")), col("node"))
      .limit(nPivots)
      .collect().map(_.getLong(0)).toSeq
    // r15: the BFS carries the pivot set as a BITMASK per node
    // (Extensions.pivotMaskLevels) — one row per node instead of one per
    // (pivot, node), so every frontier join and dedup moves K× fewer
    // rows. n_reached/harmonic per node fold the per-hop popcounts:
    // Σ_h bit_count(new_h) rows at distance h ≡ the former row-per-pivot
    // count — exact integers, same result.
    val levels = Extensions.pivotMaskLevels(und, pivots, maxHops)
    levels.zipWithIndex
      .map { case (df, h) =>
        df.select(col("node"),
          expr("CAST(bit_count(m) AS BIGINT)").as("c"), lit(h).as("d")) }
      .reduce(_ unionAll _)
      .filter(col("d") > 0)
      .groupBy(col("node"))
      .agg(sum(col("c")).as("n_reached"),
        sum(col("c") * expr("(1000000 * 2 + d) div (2 * d)")).as("harmonic_micro"))
      .select(col("node"), col("n_reached").cast("long").as("n_reached"),
        col("harmonic_micro").cast("long").as("harmonic_micro"))
  }

  /** x285: the x96 bidirectional customer↔supplier purchase graph
    * (suppliers offset by 10^7 into the shared id space).
    */
  def x285HarmonicCentrality(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.load(s, dir, "orders")
      .join(Tables.load(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("cust"), (col("l_suppkey") + 10000000L).as("supp"))
      .distinct()
    harmonicCentrality(pairs, "cust", "supp", edgesDistinctDisjoint = true)
      .select(
        when(col("node") >= 10000000L, lit("supplier")).otherwise(lit("customer"))
          .as("node_type"),
        when(col("node") >= 10000000L, col("node") - 10000000L).otherwise(col("node"))
          .as("node_id"),
        col("n_reached"), col("harmonic_micro"))
  }

  private val x285OracleSql: String = """
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
      best AS (SELECT pv, node, min(d) AS d FROM walk GROUP BY pv, node)
      SELECT CASE WHEN node >= 10000000 THEN 'supplier' ELSE 'customer' END AS node_type,
             CAST(CASE WHEN node >= 10000000 THEN node - 10000000 ELSE node END AS BIGINT)
               AS node_id,
             CAST(count(*) AS BIGINT) AS n_reached,
             CAST(sum((1000000 * 2 + d) // (2 * d)) AS BIGINT) AS harmonic_micro
      FROM best WHERE d > 0
      GROUP BY 1, 2
      ORDER BY node_type, node_id"""

  val entries: Seq[Entry] = Seq(
    Entry("x284_holt_forecast", x284HoltForecast _, x284OracleSql),
    Entry("x285_harmonic_centrality", x285HarmonicCentrality _, x285OracleSql))
}
