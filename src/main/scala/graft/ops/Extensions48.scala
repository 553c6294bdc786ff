package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Forty-eighth extension batch — deploying the spectral direction:
  *
  *  - all-but-the-top correction + retrieval delta (x128): project the
  *    x127 dominant direction OUT of every embedding (Mu & Viswanath
  *    2018's post-processing — the anisotropy axis mostly encodes
  *    frequency, not meaning, and removing it sharpens cosine
  *    retrieval), then re-run the brute-force top-5 and report, per
  *    query, the before/after rankings side by side with the
  *    overlap@5 — the "did the correction actually move retrieval"
  *    eval a pipeline runs before adopting the projection.
  *
  * Determinism discipline: everything rides on the x127 micro-quantized
  * vectors — the per-row projection coefficient Σ vq_j·m_j is an exact
  * order-free long, each projected component subtracts ONE two-factor
  * double product rounded back to a micro long, and both rankings use
  * the x05 contract (round sims to 4dp BEFORE ranking, ties by id).
  */
object Extensions48 {

  /** Project the unit direction `mMicro` (micro units) out of micro-
    * quantized vectors: (id, pq) with pq_j = vq_j − round(t·m_j/1e12),
    * t = Σ vq_j·m_j. Map-only; the direction rides as literals.
    */
  private def projectOut(
      vq: DataFrame, idCol: String, mMicro: Array[Long]): DataFrame = {
    val mLit = array(mMicro.map(lit(_)): _*)
    vq.select(col(idCol),
        col("vq"),
        graft.functions.VectorFunctions.long_dot(col("vq"), mLit).as("t"))
      .select(col(idCol),
        zip_with(col("vq"), mLit, (a, b) =>
          a - round(col("t").cast("double") * b / lit(1e12), 0).cast("long"))
          .as("pq"))
  }

  /** Rounded-cosine top-k of `queries` against `cand` over an integer
    * vector column (the x05 ranking contract). */
  private def topK(
      cand: DataFrame, queries: DataFrame, vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col(vecCol).as("qv"))
    val c = cand.select(col("vec_id").as("c_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    c.crossJoin(broadcast(q))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("sim", round(Extensions.cosineHof(col("qv"), col("cv")), 4))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rk"))
  }

  /** The deployable correction: train the dominant direction on
    * `vectors` ([[Extensions47.powerIterate]]) and return every vector
    * with that direction projected out, in exact micro units —
    * (idCol, pq array<long>; divide by 1e6 for real components).
    * Map-only after the iteration; the direction rides as literals.
    */
  def allButTop(
      vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int = Extensions47.Dim, iters: Int = 6): DataFrame = {
    val (m, _, _, _) = Extensions47.powerIterate(vectors, vecCol, dim, iters)
    val vq = vectors.select(col(idCol),
        transform(col(vecCol), x => round(lit(1e6) * x.cast("double"), 0)
          .cast("long")).as("vq"))
      .filter(size(col("vq")) === dim)
    projectOut(vq, idCol, m)
  }

  /** x128: top-5 retrieval for queries 0..4 before and after removing
    * the fixture's dominant direction, plus overlap@5 per query. The
    * oracle replays the x127 power iteration, the projection, and both
    * rankings.
    */
  def x128AllButTop(s: SparkSession, dir: String): DataFrame = {
    val (m, _, _, _) = Extensions47.fixturePca(s, dir)
    val vq = Extensions.materialized(
      Tables.load(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => round(lit(1e6) * x.cast("double"), 0)
            .cast("long")).as("vq"))
        .filter(size(col("vq")) === Extensions47.Dim))
    val pq = Extensions.materialized(projectOut(vq, "vec_id", m))
    val base = Extensions.materialized(
      topK(vq, vq.filter(col("vec_id") < 5), "vq", 5))
    val proj = Extensions.materialized(
      topK(pq, pq.filter(col("vec_id") < 5), "pq", 5))
    val overlap = base.join(proj.select(col("q_id"), col("c_id")),
        Seq("q_id", "c_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_shared"))
    base.select(col("q_id"), col("rk"), col("c_id").as("base_id"),
        col("sim").as("base_sim"))
      .join(proj.select(col("q_id"), col("rk"), col("c_id").as("proj_id"),
        col("sim").as("proj_sim")), Seq("q_id", "rk"))
      .join(overlap, Seq("q_id"), "left_outer")
      .withColumn("overlap5",
        coalesce(col("n_shared"), lit(0L)) / lit(5.0))
      .select(col("q_id"), col("rk"), col("base_id"), col("base_sim"),
        col("proj_id"), col("proj_sim"), col("overlap5"))
  }

  private val x128OracleSql: String = Extensions47.pcaOracleChain(6) + """,
    pv AS (SELECT v.vec_id, v.vq,
         CAST(list_sum(list_transform(generate_series(1, 64),
           j -> v.vq[j] * w.m[j])) AS BIGINT) AS t
         FROM v, w6 w),
    pj AS MATERIALIZED (SELECT pv.vec_id,
         list_transform(generate_series(1, 64),
           j -> pv.vq[j] - CAST(round(CAST(pv.t AS DOUBLE) * w.m[j] / 1e12, 0) AS BIGINT)) AS pq
         FROM pv, w6 w),
    vqd AS (SELECT vec_id, list_transform(vq, x -> CAST(x AS DOUBLE)) AS vd FROM v),
    pqd AS (SELECT vec_id, list_transform(pq, x -> CAST(x AS DOUBLE)) AS vd FROM pj),
    base AS (SELECT * FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               round(list_cosine_similarity(q.vd, c.vd), 4) AS sim,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.vd, c.vd), 4) DESC, c.vec_id) AS rk
        FROM vqd c CROSS JOIN vqd q
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
      WHERE rk <= 5),
    proj AS (SELECT * FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               round(list_cosine_similarity(q.vd, c.vd), 4) AS sim,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.vd, c.vd), 4) DESC, c.vec_id) AS rk
        FROM pqd c CROSS JOIN pqd q
        WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
      WHERE rk <= 5),
    ov AS (SELECT b.q_id, count(*) AS n_shared
           FROM base b WHERE EXISTS (
             SELECT 1 FROM proj p WHERE p.q_id = b.q_id AND p.c_id = b.c_id)
           GROUP BY b.q_id)
    SELECT b.q_id, b.rk, b.c_id AS base_id, b.sim AS base_sim,
           p.c_id AS proj_id, p.sim AS proj_sim,
           COALESCE(ov.n_shared, 0) / 5.0 AS overlap5
    FROM base b
    JOIN proj p ON p.q_id = b.q_id AND p.rk = b.rk
    LEFT JOIN ov ON ov.q_id = b.q_id
    ORDER BY b.q_id, b.rk"""

  val entries: Seq[Entry] = Seq(
    Entry("x128_all_but_top", x128AllButTop _, x128OracleSql))
}
