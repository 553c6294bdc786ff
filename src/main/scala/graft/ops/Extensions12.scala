package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Twelfth extension batch — hybrid retrieval and ranking evaluation:
  * reciprocal-rank fusion of lexical (BM25) and semantic (cosine)
  * rankings — the standard hybrid-search combiner — and average-overlap
  * ranking agreement, the prefix-weighted comparison of two rankers that
  * recall@k can't express (recall ignores order; AO rewards agreeing
  * early).
  */
object Extensions12 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  // ---- reciprocal-rank fusion ------------------------------------------------

  /** Reciprocal-rank fusion: each input ranking `(q_id, c_id, rk)`
    * contributes `1/(c + rk)` and candidates re-rank by the summed
    * contribution (Cormack et al.'s RRF — score-scale-free, so a BM25
    * ranking and a cosine ranking fuse without calibration). Returns the
    * fused top-k with the per-candidate list-hit count.
    *
    * Determinism: contributions are exact rationals evaluated in double,
    * summed per (q, c) over at most `rankings.size` terms and rounded to
    * 6 before ranking; ties break on candidate id.
    *
    * Scale: a union of already-small top-k tables (each O(queries·k))
    * followed by one grouped sum and a per-query window — the corpus
    * never appears; fusion costs nothing at any corpus size.
    */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    val contribs = rankings.map(_.select(col("q_id"), col("c_id"),
      (lit(1.0) / (lit(c) + col("rk"))).as("contrib")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("rrf").desc, col("c_id"))
    contribs.reduce(_ unionByName _)
      .groupBy(col("q_id"), col("c_id"))
      .agg(round(sum(col("contrib")), 6).as("rrf"),
        count(lit(1)).as("n_lists"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("c_id"), col("rrf"), col("n_lists"),
        col("rk").cast("long").as("rk"))
  }

  /** x62: hybrid retrieval over the fixture — BM25 (text) and brute
    * cosine (embeddings joined by id) top-10 lists fused to a top-5.
    */
  def x62HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bm25 = Extensions4.bm25TopK(d, d.filter(col("doc_id") < 5),
      "doc_id", "text", k = 10)
    val e = emb(s, dir)
    val base = e.select(col("vec_id"), col("embedding"))
    val q = broadcast(base.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
    val wCos = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("c_id"))
    val cosine = base.crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        round(graft.functions.VectorFunctions
          .cosine_similarity(col("embedding"), col("qv")), 4).as("sim"))
      .withColumn("rk", row_number().over(wCos))
      .filter(col("rk") <= 10)
    rrfFuse(Seq(
        bm25.select(col("q_id"), col("c_id"), col("rk")),
        cosine.select(col("q_id"), col("c_id"), col("rk"))), k = 5)
  }

  // ---- ranking agreement (average overlap) -----------------------------------

  /** Average overlap between two rankings at depth `k`:
    * `AO = (1/k) Σ_{d=1..k} |A_d ∩ B_d| / d` where `A_d`/`B_d` are the
    * depth-d prefixes. 1.0 = identical order, 0 = disjoint; early
    * agreement weighs more (the top-weighted cousin of recall@k — x31
    * reports set recall, this reports ORDER agreement). Standard for
    * judging an ANN index against brute truth before shipping it.
    *
    * Computation is join-side exact: a pair present in both prefixes at
    * ranks (ra, rb) contributes `Σ_{d=max(ra,rb)}^{k} 1/d / k` — one
    * equi-join on (q, c) and a per-row harmonic-tail fold (HOF over a
    * k-length sequence; k is a constant). One grouped sum per query.
    *
    * Scale: both inputs are top-k tables (O(queries·k) rows); the corpus
    * is never touched.
    */
  def rankingAgreement(a: DataFrame, b: DataFrame, k: Int): DataFrame = {
    val ra = a.filter(col("rk") <= k)
      .select(col("q_id"), col("c_id"), col("rk").as("rka"))
    val rb = b.filter(col("rk") <= k)
      .select(col("q_id"), col("c_id"), col("rk").as("rkb"))
    val agreed = ra.join(rb, Seq("q_id", "c_id"))
      .withColumn("m", greatest(col("rka"), col("rkb")).cast("int"))
      .withColumn("wt", aggregate(
        sequence(col("m"), lit(k)), lit(0.0d), (acc, d) => acc + lit(1.0d) / d))
      .groupBy(col("q_id"))
      .agg(round(sum(col("wt")) / k, 4).as("avg_overlap"),
        count(lit(1)).as("n_common"))
    // a query whose prefixes are DISJOINT must still report (as zero),
    // or the average over queries silently inflates
    ra.select(col("q_id")).distinct()
      .join(agreed, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("avg_overlap"), lit(0.0d)).as("avg_overlap"),
        coalesce(col("n_common"), lit(0L)).as("n_common"))
  }

  /** x63: [[rankingAgreement]] of the sign-bucket ANN against brute
    * cosine truth at k=5 over the fixture query block.
    */
  def x63RankingAgreement(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val base = e.select(col("vec_id"), col("embedding"))
    val queries = base.filter(col("vec_id") < 10)
    val brute = {
      val q = broadcast(queries
        .select(col("vec_id").as("q_id"), col("embedding").as("qv")))
      val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
      base.crossJoin(q)
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("c_id"),
          round(graft.functions.VectorFunctions
            .cosine_similarity(col("embedding"), col("qv")), 4).as("sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
    }
    val ann = Extensions.signBucketTopK(base, queries,
      "vec_id", "embedding", k = 5, signBits = 6)
    rankingAgreement(
        ann.select(col("q_id"), col("c_id"), col("rk")),
        brute.select(col("q_id"), col("c_id"), col("rk")), k = 5)
  }

  val entries: Seq[Entry] = Seq(
    Entry("x62_hybrid_rrf", x62HybridRrf _, """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      tf AS (SELECT doc_id AS c_id, len(tk) AS dl, u.term, count(*) AS tf
             FROM d, UNNEST(tk) AS u(term) GROUP BY 1, 2, 3),
      stats AS (SELECT count(*) AS n_docs, sum(len(tk)) AS sum_dl FROM d),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      qt AS (SELECT doc_id AS q_id, u.term
             FROM d, UNNEST(list_distinct(tk)) AS u(term) WHERE doc_id < 5),
      bm_scored AS (
        SELECT qt.q_id, tf.c_id,
               round(sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                     * tf.tf * (1.2 + 1.0)
                     / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl * s.n_docs / s.sum_dl))), 4)
                 AS score
        FROM qt JOIN tf ON tf.term = qt.term AND tf.c_id <> qt.q_id
        JOIN df ON df.term = qt.term CROSS JOIN stats s GROUP BY 1, 2),
      bm AS (SELECT q_id, c_id,
                    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rk
             FROM bm_scored QUALIFY rk <= 10),
      base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      q AS (SELECT vec_id AS q_id, v AS qv FROM base WHERE vec_id < 5),
      cos_scored AS (SELECT q_id, c.vec_id AS c_id,
                            round(list_cosine_similarity(qv, c.v), 4) AS sim
                     FROM base c CROSS JOIN q WHERE c.vec_id <> q_id),
      cos AS (SELECT q_id, c_id,
                     row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rk
              FROM cos_scored QUALIFY rk <= 10),
      unioned AS (SELECT q_id, c_id, 1.0 / (60 + rk) AS contrib FROM bm
                  UNION ALL
                  SELECT q_id, c_id, 1.0 / (60 + rk) AS contrib FROM cos),
      fused AS (SELECT q_id, c_id, round(sum(contrib), 6) AS rrf,
                       count(*) AS n_lists
                FROM unioned GROUP BY 1, 2),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf DESC, c_id) AS rk
                 FROM fused)
      SELECT q_id, c_id, rrf, n_lists, rk FROM ranked WHERE rk <= 5
      ORDER BY q_id, rk"""),
    Entry("x63_ranking_agreement", x63RankingAgreement _, """
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
             + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
             + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS bkt
        FROM embeddings),
      q AS (SELECT vec_id AS q_id, v AS qv, bkt FROM base WHERE vec_id < 10),
      ann AS (SELECT q_id, c_id, rk FROM (
                SELECT q_id, c.vec_id AS c_id,
                       row_number() OVER (PARTITION BY q_id
                         ORDER BY round(list_cosine_similarity(qv, c.v), 4) DESC, c.vec_id) AS rk
                FROM base c JOIN q USING (bkt) WHERE c.vec_id <> q_id)
              WHERE rk <= 5),
      brute AS (SELECT q_id, c_id, rk FROM (
                SELECT q_id, c.vec_id AS c_id,
                       row_number() OVER (PARTITION BY q_id
                         ORDER BY round(list_cosine_similarity(qv, c.v), 4) DESC, c.vec_id) AS rk
                FROM base c CROSS JOIN q WHERE c.vec_id <> q_id)
              WHERE rk <= 5),
      j AS (SELECT ann.q_id, greatest(ann.rk, brute.rk) AS m
            FROM ann JOIN brute ON ann.q_id = brute.q_id AND ann.c_id = brute.c_id),
      wt AS (SELECT q_id, m,
                    (SELECT sum(1.0 / d.d) FROM UNNEST(generate_series(m, 5)) AS d(d)) AS wt
             FROM j),
      agreed AS (SELECT q_id, round(sum(wt) / 5, 4) AS avg_overlap,
                        count(*) AS n_common
                 FROM wt GROUP BY 1)
      SELECT qs.q_id, coalesce(agreed.avg_overlap, 0.0) AS avg_overlap,
             CAST(coalesce(agreed.n_common, 0) AS BIGINT) AS n_common
      FROM (SELECT DISTINCT q_id FROM ann) qs
      LEFT JOIN agreed ON qs.q_id = agreed.q_id
      ORDER BY qs.q_id"""))
}
