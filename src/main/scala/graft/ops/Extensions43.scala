package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Forty-third extension batch — contrastive training data prep:
  *
  *  - hard-negative mining (x119): for each query document, the
  *    lexically-confusable NON-duplicates — BM25's top candidates with
  *    the near-duplicate positives anti-joined away, re-ranked. The
  *    standard contrastive-pair recipe (e.g. DPR, Karpukhin et al.
  *    2020 §3.2): a random negative teaches nothing, a near-dup
  *    "negative" poisons the loss; the valuable negatives are exactly
  *    the high-BM25 non-matches this emits.
  *
  * Scale shape: both inputs are existing bucketed pipelines (BM25's
  * broadcast query side over the corpus index; near-dup pairs via the
  * shingle inverted index — never doc×doc); the mine itself is one
  * anti-join of a queries×k table against the pair set plus a window
  * over ≤ queries×k rows.
  */
object Extensions43 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Top `k` hard negatives per query: BM25 top `candK` minus self and
    * minus near-duplicates (exact Jaccard ≥ `dupThreshold`), keeping
    * BM25 order (score desc, c_id — the x33 tie-break).
    */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame, idCol: String, textCol: String,
      k: Int = 5, candK: Int = 10, dupThreshold: Double = 0.3,
      shingleSize: Int = 5): DataFrame = {
    val cand = Extensions4.bm25TopK(corpus, queries, idCol, textCol, k = candK)
    // r15 (guide §3): the dup mask only needs pairs whose LEFT side is a
    // query doc, but jaccardPairs computed every corpus pair through the
    // full index self-join. Restrict one join side to the query docs'
    // index rows and broadcast it — the corpus index is never shuffled.
    // Same arithmetic as exactJaccardFromIndex (distinct-shingle counts,
    // round4 before thresholding), so membership is bit-identical on the
    // (q_id ∈ queries) domain the anti-join consumes.
    val sh = Extensions.shingleIndexFastOf(corpus, idCol, textCol, shingleSize)
    val shQ = sh.join(
      broadcast(queries.select(col(idCol).as("doc_id")).distinct()),
      Seq("doc_id"), "left_semi")
    val posBoth = broadcast(shQ).as("x")
      .join(sh.as("y"),
        col("x.shk") === col("y.shk") && col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("q_id"), col("y.doc_id").as("c_id"),
        col("x.n_sh").as("na"), col("y.n_sh").as("nb"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(count(lit(1)).as("shared"), max(col("na")).as("na"),
        max(col("nb")).as("nb"))
      .filter(Extensions.round4o(
        col("shared") / (col("na") + col("nb") - col("shared"))) >= dupThreshold)
      .select(col("q_id"), col("c_id"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("rk"))
    cand.join(posBoth, Seq("q_id", "c_id"), "left_anti")
      .withColumn("hn_rk", row_number().over(w).cast("long"))
      .filter(col("hn_rk") <= k)
      .select(col("q_id"), col("c_id"), col("score"), col("hn_rk"))
  }

  /** x119: top-5 hard negatives (from BM25 top-10, dup threshold 0.3)
    * for query docs 0..4 of the documents fixture.
    */
  def x119HardNegatives(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    hardNegatives(d, d.filter(col("doc_id") < 5), "doc_id", "text")
  }

  private val x119OracleSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      tf AS (SELECT doc_id AS c_id, len(tk) AS dl, u.term, count(*) AS tf
             FROM d, UNNEST(tk) AS u(term)
             GROUP BY 1, 2, 3),
      stats AS (SELECT count(*) AS n_docs, sum(len(tk)) AS sum_dl FROM d),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      qt AS (SELECT doc_id AS q_id, u.term
             FROM d, UNNEST(list_distinct(tk)) AS u(term)
             WHERE doc_id < 5),
      scored AS (
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
      cand AS (
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rk
          FROM scored)
        WHERE rk <= 10),
      sh0 AS (SELECT doc_id, array_to_string(tk[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(tk) >= 5 THEN len(tk)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
             FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
             GROUP BY 1, 2),
      pos AS (SELECT doc_a, doc_b FROM pr
              JOIN cnt ca ON ca.doc_id = doc_a
              JOIN cnt cb ON cb.doc_id = doc_b
              WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.3),
      posb AS (SELECT doc_a AS q_id, doc_b AS c_id FROM pos
               UNION ALL SELECT doc_b, doc_a FROM pos),
      hard AS (
        SELECT c.q_id, c.c_id, c.score,
               row_number() OVER (PARTITION BY c.q_id ORDER BY c.rk) AS hn_rk
        FROM cand c LEFT JOIN posb p ON p.q_id = c.q_id AND p.c_id = c.c_id
        WHERE p.q_id IS NULL)
      SELECT q_id, c_id, score, CAST(hn_rk AS BIGINT) AS hn_rk
      FROM hard
      WHERE hn_rk <= 5
      ORDER BY q_id, hn_rk"""

  val entries: Seq[Entry] = Seq(
    Entry("x119_hard_negatives", x119HardNegatives _, x119OracleSql))
}
