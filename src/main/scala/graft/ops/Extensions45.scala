package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Forty-fifth extension batch — graph peeling + two forensic gates:
  *
  *  - k-core decomposition (x122): iteratively peel nodes of degree < k
  *    until the subgraph stabilizes (Seidman 1983) — the standard "dense
  *    backbone" extractor for community mining and the graph-tier
  *    companion to PageRank/triangles/label-propagation. Fixed peel
  *    rounds, so the whole run replays in SQL.
  *  - sample-ratio-mismatch check (x123): THE first gate on any A/B
  *    readout — does the observed arm split match the design? A skewed
  *    split invalidates every downstream stat (Fabijan et al. 2019).
  *    Chi-square against the design permilles.
  *  - Benford first-digit audit (x124): the fraud/data-corruption
  *    forensic — first significant digits of a natural amount column
  *    follow log10(1+1/d); a synthetic or truncated feed does not
  *    (Nigrini 2012). Per-digit table + chi-square flag.
  *
  * Determinism discipline: x122 is pure integer (degrees, semi-joins);
  * x123/x124 keep every cross-aggregation value an exact long (counts,
  * 1000·O − n·p design diffs) and quantize each chi-square contribution
  * to an integer micro-value BEFORE the cross-arm/digit sum, so the
  * statistic is an exact integer sum with one final division.
  */
object Extensions45 {

  // ---- x122: k-core decomposition --------------------------------------------

  /** Nodes of the k-core of an undirected graph, with their within-core
    * degree. `iters` fixed peel rounds (each: degree hash-agg over the
    * surviving edge set, keep nodes with degree ≥ k, semi-join edges to
    * kept endpoints); if the graph hasn't stabilized after `iters`
    * rounds the result is the deterministic `iters`-round peel — size
    * `iters` to the expected peel depth (each round removes at least
    * one node until stable, and real graphs stabilize in a handful).
    *
    * Scale: edges normalize + dedup ONCE (the only corpus-shaped
    * shuffle); each round touches the shrinking edge set with one
    * hash-agg + two semi-joins against an O(nodes) kept table, and
    * materializes the survivor edges to cut lineage (the x96 per-round
    * discipline). No driver state, no windows.
    */
  def kCore(
      edges: DataFrame, aCol: String, bCol: String, k: Int = 3,
      iters: Int = 6): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    var e = Extensions.materialized(
      edges.select(least(col(aCol), col(bCol)).as("a"),
          greatest(col(aCol), col(bCol)).as("b"))
        .filter(col("a") =!= col("b")).distinct())
    // r15: early-exit on stabilization. Each round's survivor set is a
    // subset of the previous round's, so equal edge COUNTS ⇔ identical
    // edge sets ⇔ every remaining round is the identity — the fixed
    // `iters`-round result is unchanged, the dead rounds' agg + semi-join
    // + checkpoint jobs are skipped. The count job reads the round's
    // already-checkpointed blocks (cheap).
    var n = e.count()
    var stable = false
    for (_ <- 1 to iters if !stable) {
      val deg = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("dg"))
      val kept = deg.filter(col("dg") >= k).select(col("node"))
      e = Extensions.materialized(
        e.join(kept.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(kept.select(col("node").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b")))
      val nn = e.count()
      stable = nn == n
      n = nn
    }
    e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
      .filter(col("core_deg") >= k)
  }

  /** x122: the 3-core of the x99 co-purchase backbone (suppliers linked
    * when shared-customer count strictly exceeds the pairwise mean —
    * the same exact cross-multiplied integer threshold). The oracle
    * unrolls the peel rounds as CTE triples (degree, kept, edges).
    */
  def x122KCore(s: SparkSession, dir: String): DataFrame = {
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
    kCore(backbone, "s1", "s2", k = 3)
      .select(col("node").as("supp_id"), col("core_deg"))
  }

  /** Generated DuckDB replay of [[kCore]] on the x99 backbone: one
    * (degree, kept, edge) CTE triple per peel round.
    */
  private[ops] def kCoreOracleChain(iters: Int, k: Int = 3): String = {
    val head = """WITH cs AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
                  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      shared AS (SELECT x.sp AS s1, y.sp AS s2, count(*) AS shared
                 FROM cs x JOIN cs y ON x.c = y.c AND x.sp < y.sp
                 GROUP BY 1, 2),
      tot AS (SELECT count(*) AS np, CAST(sum(shared) AS BIGINT) AS ts FROM shared),
      e0 AS MATERIALIZED (SELECT s1 AS a, s2 AS b FROM shared, tot
                          WHERE shared * np > ts)"""
    val rounds = (1 to iters).map { r =>
      s"""
      d$r AS (SELECT node, count(*) AS dg FROM (
                SELECT a AS node FROM e${r - 1}
                UNION ALL SELECT b FROM e${r - 1}) GROUP BY 1),
      k$r AS (SELECT node FROM d$r WHERE dg >= $k),
      e$r AS MATERIALIZED (SELECT a, b FROM e${r - 1}
              WHERE a IN (SELECT node FROM k$r)
                AND b IN (SELECT node FROM k$r))"""
    }
    head + rounds.mkString(",", ",", "")
  }

  private val x122OracleSql: String = kCoreOracleChain(6) + """
      SELECT node AS supp_id, CAST(count(*) AS BIGINT) AS core_deg FROM (
        SELECT a AS node FROM e6 UNION ALL SELECT b FROM e6)
      GROUP BY node HAVING count(*) >= 3
      ORDER BY supp_id"""

  // ---- x123: sample-ratio-mismatch check --------------------------------------

  /** Chi-square SRM gate over unit→arm assignments against the DESIGN
    * split `design` (arm → permille, must sum to 1000). Output one row
    * per designed arm: (arm, n_obs, design_permille,
    * obs_permille, contrib) plus the corpus-constant chi2 and the
    * srm flag (chi2 exceeds `critMicro`/1e6 — default χ²₁ at 95% for a
    * two-arm design; pass the χ²_{k−1} critical value for k arms).
    *
    * Exactness: the design deviation is the exact long
    * 1000·O_a − n·p_a; each contribution quantizes to
    * round(1e6·diff²/(1000·n·p_a)) BEFORE the cross-arm sum, so the
    * statistic is an integer sum — partial-agg order can't move it.
    *
    * Scale: one hash-agg over assignments (the only corpus-sized step),
    * then ≤ arms rows; missing arms surface as n_obs = 0 via the design
    * spine join.
    *
    * Family sibling: x315 [[Extensions138.srmCheck]] — the 2-arm
    * md5-split specialization whose χ² is integer-exact end to end
    * ((n_a−n_b)²·1000 > 3841·n); this k-arm form micro-quantizes each
    * contribution before the sum, so the two keep separate paths.
    */
  def srmCheck(
      assignments: DataFrame, armCol: String,
      design: Seq[(String, Int)], critMicro: Long = 3841459L): DataFrame = {
    require(design.map(_._2).sum == 1000,
      s"srmCheck: design permilles must sum to 1000: $design")
    val s = assignments.sparkSession
    import s.implicits._
    val spine = design.toDF("arm", "design_permille")
    val obs = assignments.groupBy(col(armCol).as("arm"))
      .agg(count(lit(1)).as("n_obs"))
    val per = Extensions.materialized(
      spine.join(obs, Seq("arm"), "left_outer")
        .select(col("arm"), coalesce(col("n_obs"), lit(0L)).as("n_obs"),
          col("design_permille").cast("long").as("design_permille")))
    val tot = per.agg(sum(col("n_obs")).as("n"))
    val contribMicro = round(
      pow(lit(1000L) * col("n_obs") - col("n") * col("design_permille"), 2)
        / (lit(1000.0) * col("n") * col("design_permille")) * lit(1e6), 0)
      .cast("long")
    val withContrib = per.crossJoin(broadcast(tot))
      .withColumn("contrib_micro", contribMicro)
    val chi2 = withContrib.agg(sum(col("contrib_micro")).as("chi2_micro"))
    withContrib.crossJoin(broadcast(chi2))
      .select(col("arm"), col("n_obs"), col("design_permille"),
        Extensions.round4o(col("n_obs") / col("n")).as("obs_frac"),
        Extensions.round4o(col("contrib_micro") / lit(1e6)).as("contrib"),
        Extensions.round4o(col("chi2_micro") / lit(1e6)).as("chi2"),
        (col("chi2_micro") > critMicro).as("srm"))
  }

  /** x123: SRM check of the x97 experiment assignment (md5-permille
    * over the events table's users, 500/500 design).
    */
  def x123Srm(s: SparkSession, dir: String): DataFrame = {
    val users = Tables.load(s, dir, "events")
      .select(col("user_id")).distinct()
      .withColumn("arm",
        when(pmod(graft.functions.HashFunctions.md5_bucket60(
          col("user_id").cast("string")), lit(1000L)) < 500L, lit("control"))
          .otherwise(lit("treatment")))
    srmCheck(users, "arm", Seq("control" -> 500, "treatment" -> 500))
  }

  private val x123OracleSql: String = """
      WITH u AS (SELECT DISTINCT user_id FROM events),
      a AS (SELECT CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 1000 < 500
                        THEN 'control' ELSE 'treatment' END AS arm
            FROM u),
      spine AS (SELECT 'control' AS arm, CAST(500 AS BIGINT) AS design_permille
                UNION ALL SELECT 'treatment', 500),
      obs AS (SELECT arm, count(*) AS n_obs FROM a GROUP BY 1),
      per AS (SELECT s.arm, COALESCE(o.n_obs, 0) AS n_obs, s.design_permille
              FROM spine s LEFT JOIN obs o USING (arm)),
      tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM per),
      c AS (SELECT per.*, tot.n,
              CAST(round(pow(1000 * n_obs - n * design_permille, 2)
                   / (1000.0 * n * design_permille) * 1e6, 0) AS BIGINT) AS contrib_micro
            FROM per, tot),
      t2 AS (SELECT CAST(sum(contrib_micro) AS BIGINT) AS chi2_micro FROM c)
      SELECT arm, n_obs, design_permille,
             round(n_obs * 1.0 / n * 10000.0, 0) / 10000.0 AS obs_frac,
             round(contrib_micro / 1e6 * 10000.0, 0) / 10000.0 AS contrib,
             round(chi2_micro / 1e6 * 10000.0, 0) / 10000.0 AS chi2,
             chi2_micro > 3841459 AS srm
      FROM c, t2
      ORDER BY arm"""

  // ---- x124: Benford first-digit audit ----------------------------------------

  /** Benford's-law audit of a positive amount column: per first
    * significant digit 1..9 — observed count/fraction, the Benford
    * expectation log10(1+1/d), the deviation, a micro-quantized
    * chi-square contribution, and the corpus-constant chi2 + flag
    * (default `critMicro` = χ²₈ at 95%).
    *
    * The digit is extracted EXACTLY: amounts quantize to integer cents
    * (round(100·x)) and the digit is the first character of the decimal
    * rendering — no log/pow float boundary can flip a digit. Rows with
    * non-positive cents are excluded (Benford is defined on positive
    * magnitudes).
    *
    * Scale: one map pass + one ≤9-row hash-agg; the digit spine join
    * keeps zero-count digits visible.
    */
  def benfordAudit(
      rel: DataFrame, amountCol: String,
      critMicro: Long = 15507313L): DataFrame = {
    val s = rel.sparkSession
    val cents = round(col(amountCol) * 100.0d, 0).cast("long")
    val obs = rel.select(cents.as("cents")).filter(col("cents") > 0L)
      .select(substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_obs"))
    val spine = s.range(1, 10).select(col("id").as("digit"))
    val per = Extensions.materialized(
      spine.join(obs, Seq("digit"), "left_outer")
        .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs")))
    val tot = per.agg(sum(col("n_obs")).as("n"))
    val pD = log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))
    val expN = col("n") * pD
    val contribMicro = round(
      pow(col("n_obs") - expN, 2) / expN * lit(1e6), 0).cast("long")
    val withContrib = per.crossJoin(broadcast(tot))
      .withColumn("contrib_micro", contribMicro)
    val chi2 = withContrib.agg(sum(col("contrib_micro")).as("chi2_micro"))
    withContrib.crossJoin(broadcast(chi2))
      .select(col("digit"), col("n_obs"),
        Extensions.round4o(col("n_obs") / col("n")).as("obs_frac"),
        Extensions.round4o(pD).as("benford_frac"),
        Extensions.round4o(abs(col("n_obs") / col("n") - pD)).as("abs_diff"),
        Extensions.round4o(col("contrib_micro") / lit(1e6)).as("contrib"),
        Extensions.round4o(col("chi2_micro") / lit(1e6)).as("chi2"),
        (col("chi2_micro") > critMicro).as("violates_benford"))
  }

  /** x124: Benford audit of order totals. */
  def x124Benford(s: SparkSession, dir: String): DataFrame =
    benfordAudit(Tables.load(s, dir, "orders"), "o_totalprice")

  private val x124OracleSql: String = """
      WITH c0 AS (SELECT CAST(round(o_totalprice * 100.0, 0) AS BIGINT) AS cents
                  FROM orders),
      obs AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
                     count(*) AS n_obs
              FROM c0 WHERE cents > 0 GROUP BY 1),
      spine AS (SELECT CAST(g.d AS BIGINT) AS digit
                FROM generate_series(1, 9) AS g(d)),
      per AS (SELECT s.digit, COALESCE(o.n_obs, 0) AS n_obs
              FROM spine s LEFT JOIN obs o USING (digit)),
      tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM per),
      c AS (SELECT per.digit, per.n_obs, tot.n,
                   ln(1.0 + 1.0 / per.digit) / ln(10.0) AS p_d,
                   CAST(round(pow(per.n_obs - tot.n * (ln(1.0 + 1.0 / per.digit) / ln(10.0)), 2)
                        / (tot.n * (ln(1.0 + 1.0 / per.digit) / ln(10.0))) * 1e6, 0) AS BIGINT)
                     AS contrib_micro
            FROM per, tot),
      t2 AS (SELECT CAST(sum(contrib_micro) AS BIGINT) AS chi2_micro FROM c)
      SELECT digit, n_obs,
             round(n_obs * 1.0 / n * 10000.0, 0) / 10000.0 AS obs_frac,
             round(p_d * 10000.0, 0) / 10000.0 AS benford_frac,
             round(abs(n_obs * 1.0 / n - p_d) * 10000.0, 0) / 10000.0 AS abs_diff,
             round(contrib_micro / 1e6 * 10000.0, 0) / 10000.0 AS contrib,
             round(chi2_micro / 1e6 * 10000.0, 0) / 10000.0 AS chi2,
             chi2_micro > 15507313 AS violates_benford
      FROM c, t2
      ORDER BY digit"""

  val entries: Seq[Entry] = Seq(
    Entry("x122_kcore", x122KCore _, x122OracleSql),
    Entry("x123_srm_check", x123Srm _, x123OracleSql),
    Entry("x124_benford", x124Benford _, x124OracleSql))
}
