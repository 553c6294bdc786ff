package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Forty-seventh extension batch — distributed spectral analysis:
  *
  *  - PCA power iteration (x127): the dominant direction of the
  *    embedding second-moment matrix C = Σ v·vᵀ/n, WITHOUT ever
  *    materializing C — each iteration computes C·w as Σ v·(v·w) in one
  *    corpus aggregation (the matrix-free power method every
  *    large-scale SVD starts from), normalizes on the driver (the O(dim)
  *    sequential step, the x94 gradient discipline), and ships the next
  *    w as literals. The uncentered top component is the embedding
  *    anisotropy direction (Ethayarajh 2019; Mu & Viswanath 2018's
  *    "common mean direction") — the thing you project OUT before
  *    cosine retrieval works; var_share quantifies the x101 health
  *    report's collapse axis.
  *
  * Determinism discipline: vectors quantize ONCE to exact micro longs;
  * every per-row dot product is then an exact integer (Σ vq_j·m_j —
  * order-free), and the only float steps are per-row two-factor
  * double products (identical IEEE in both engines) rounded to longs
  * BEFORE any aggregation. The driver's normalize (sqrt + divide +
  * round) replays in SQL over the same BIGINT sums.
  */
object Extensions47 {

  /** Embedding dimensionality of the fixture (and default). */
  val Dim = 64

  /** Matrix-free power iteration for the top eigenvector of the
    * UNCENTERED second-moment matrix of `vecCol`. Output one row per
    * dimension (dim 1..d, w_micro — the unit eigenvector in micro
    * units) with the corpus-constant Rayleigh eigenvalue `lambda` and
    * its share of total variance `var_share` repeated per row (the
    * x120 self-contained card shape).
    *
    * Arithmetic: components quantize once to vq = round(1e6·v); per row
    * the scaled dot t = Σ_j vq_j·m_j is an EXACT long (headroom:
    * d·|v|·1e12 < 2^63 — fine to |v| ~ 1e5 at d = 64); the update
    * contribution round(vq_j·t/1e9) and the Rayleigh term
    * round(t²/1e18) are single double products of exact integers —
    * bit-identical across engines — rounded to longs before the sum.
    * The driver holds O(d) state per round (norm + next literals),
    * exactly the x94 weight-update shape.
    *
    * Scale: `iters` scans of the quantized vector table, each one
    * map + ONE partial-aggregated reduce of d+2 longs. No shuffle of
    * vectors, no d×d matrix anywhere, no window. At 100 TB the corpus
    * is quantized once and each round moves d+2 longs per partition.
    */
  def pcaPowerIteration(
      vectors: DataFrame, vecCol: String, dim: Int = Dim,
      iters: Int = 6): DataFrame = {
    val spark = vectors.sparkSession
    val (m, lamMicro, traceMicro, nRows) =
      powerIterate(vectors, vecCol, dim, iters)
    import spark.implicits._
    m.zipWithIndex.map { case (w, j) => (j + 1L, w) }.toSeq
      .toDF("dim", "w_micro")
      .withColumn("lambda",
        Extensions.round4o(lit(lamMicro.toDouble) / (lit(1e6) * lit(nRows))))
      .withColumn("var_share",
        Extensions.round4o(lit(lamMicro.toDouble) / lit(traceMicro.toDouble)))
      .orderBy(col("dim"))
  }

  /** The iteration core: (unit eigenvector in micro units, Rayleigh
    * numerator micro, trace micro, row count). Driver holds O(dim).
    */
  private[ops] def powerIterate(
      vectors: DataFrame, vecCol: String, dim: Int,
      iters: Int): (Array[Long], BigInt, BigInt, Long) = {
    require(dim > 0 && iters > 0)
    val vq = Extensions.materialized(
      vectors.select(
        transform(col(vecCol), x => round(lit(1e6) * x.cast("double"), 0)
          .cast("long")).as("vq"))
        .filter(size(col("vq")) === dim))
    var m = Array.fill(dim)(125000L) // 1/8 exactly for d=64; any unit-ish seed works
    var lamMicro = BigInt(0); var traceMicro = BigInt(0); var nRows = 0L
    for (r <- 1 to iters) {
      val mLit = array(m.map(lit(_)): _*)
      val t = graft.functions.VectorFunctions.long_dot(col("vq"), mLit)
      val withT = vq.select(col("vq"), t.as("t"))
      // width audit (r12): every per-row term here fits a long (t ≤
      // ~6.4e13, the scaled update term ≤ ~6.4e10), but the SUMS grow
      // with the corpus — the update sums wrapped past ~1.4e8 rows, the
      // Rayleigh/trace sums past ~2e9. All corpus-length sums run in
      // DECIMAL(38,0) and land driver-side as BigInt (the x132 rule);
      // the unit direction m stays micro longs by construction.
      val sums = (0 until dim).map(j =>
        sum(round(element_at(col("vq"), j + 1).cast("double") * col("t")
          / lit(1e9), 0).cast("decimal(38,0)")).as(s"s$j")) ++ Seq(
        sum(round(col("t").cast("double") * col("t") / lit(1e18), 0)
          .cast("decimal(38,0)")).as("lam"),
        sum(round(aggregate(col("vq"), lit(0L), (acc, x) => acc + x * x)
          .cast("double") / lit(1e6), 0).cast("decimal(38,0)")).as("tr"),
        count(lit(1)).as("n"))
      val row = withT.agg(sums.head, sums.tail: _*).collect()(0)
      val s = Array.tabulate(dim)(j => BigInt(row.getDecimal(j).toBigInteger))
      val norm = math.sqrt(s.map(x => x.toDouble * x.toDouble).sum)
      // half-AWAY rounding (sign-split) — math.round alone is half-UP,
      // which disagrees with DuckDB round() on negative components
      m = s.map(x => (if (x < 0) -1L else 1L) *
        math.round(1e6 * math.abs(x.toDouble) / norm)).toArray
      if (r == iters) {
        lamMicro = BigInt(row.getDecimal(dim).toBigInteger)
        traceMicro = BigInt(row.getDecimal(dim + 1).toBigInteger)
        nRows = row.getLong(dim + 2)
      }
    }
    (m, lamMicro, traceMicro, nRows)
  }

  /** The fixture's trained direction (6 rounds), a [[FixtureCache]] entry
    * shared by x127 and x128, which deploys it.
    */
  private[ops] def fixturePca(
      s: SparkSession, dir: String): (Array[Long], BigInt, BigInt, Long) =
    FixtureCache(s, dir, "embeddings", "pca-direction")(
      powerIterate(Tables.load(s, dir, "embeddings"), "embedding", Dim, 6))

  /** x127: dominant direction of the embeddings fixture (6 rounds).
    * The DuckDB oracle REPLAYS THE ITERATION: one (dot, update,
    * normalize) CTE triple per round over d-element BIGINT lists.
    */
  def x127PcaPower(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    val (m, lamMicro, traceMicro, nRows) = fixturePca(s, dir)
    import spark.implicits._
    m.zipWithIndex.map { case (w, j) => (j + 1L, w) }.toSeq
      .toDF("dim", "w_micro")
      .withColumn("lambda",
        Extensions.round4o(lit(lamMicro.toDouble) / (lit(1e6) * lit(nRows))))
      .withColumn("var_share",
        Extensions.round4o(lit(lamMicro.toDouble) / lit(traceMicro.toDouble)))
  }

  /** Generated replay of [[pcaPowerIteration]]: the m-vector is a
    * 64-element BIGINT list carried through one CTE pair per round;
    * the normalize replays with the same sqrt/divide/round on the
    * exact BIGINT sums.
    */
  private[ops] def pcaOracleChain(iters: Int, dim: Int = Dim): String = {
    val head = s"""WITH v AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding,
               x -> CAST(round(1e6 * CAST(x AS DOUBLE), 0) AS BIGINT)) AS vq
      FROM embeddings
      WHERE len(embedding) = $dim),
    w0 AS (SELECT list_transform(generate_series(1, $dim),
             j -> CAST(125000 AS BIGINT)) AS m)"""
    val rounds = (1 to iters).map { r =>
      s"""
    t$r AS (SELECT v.vq AS vq,
         CAST(list_sum(list_transform(generate_series(1, $dim),
           j -> v.vq[j] * w.m[j])) AS BIGINT) AS t
         FROM v, w${r - 1} w),
    s$r AS MATERIALIZED (SELECT
         list(sj ORDER BY j) AS s
         FROM (SELECT u.j AS j,
                 CAST(sum(CAST(round(CAST(t.vq[u.j] AS DOUBLE) * t.t / 1e9, 0) AS BIGINT)) AS BIGINT) AS sj
               FROM t$r t, LATERAL unnest(generate_series(1, $dim)) AS u(j)
               GROUP BY u.j)),
    w$r AS MATERIALIZED (SELECT list_transform(s.s,
         x -> CAST(round(1e6 * x / nrm.q, 0) AS BIGINT)) AS m
         FROM s$r s, (SELECT sqrt(CAST(list_sum(list_transform(s2.s,
                x -> CAST(x AS DOUBLE) * x)) AS DOUBLE)) AS q
              FROM s$r s2) nrm)"""
    }
    head + rounds.mkString(",", ",", "")
  }

  private val x127OracleSql: String = {
    val it = 6
    pcaOracleChain(it) + s""",
    fin AS (SELECT
         CAST(sum(CAST(round(CAST(t.t AS DOUBLE) * t.t / 1e18, 0) AS BIGINT)) AS BIGINT) AS lam,
         CAST(sum(CAST(round(CAST(list_sum(list_transform(t.vq, x -> x * x)) AS DOUBLE) / 1e6, 0) AS BIGINT)) AS BIGINT) AS tr,
         count(*) AS n
         FROM t$it t)
    SELECT CAST(u.j AS BIGINT) AS dim, w.m[u.j] AS w_micro,
           round(fin.lam / (1e6 * fin.n) * 10000.0, 0) / 10000.0 AS lambda,
           round(fin.lam / CAST(fin.tr AS DOUBLE) * 10000.0, 0) / 10000.0 AS var_share
    FROM w$it w, fin, LATERAL unnest(generate_series(1, $Dim)) AS u(j)
    ORDER BY dim"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x127_pca_power", x127PcaPower _, x127OracleSql))
}
