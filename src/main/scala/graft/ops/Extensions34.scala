package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Thirty-fourth extension batch — the DEPLOYED ANN serving loop,
  * measured:
  *
  *  - x107: recall@k of the [[PqStore]]-served IVF-PQ path against
  *    exact integer brute-force truth — the x70 pattern (x70 scores the
  *    persisted raw-vector IVF store; this scores the persisted
  *    COMPRESSED store, which is what a 100 TB corpus actually ships).
  *    The store builds once per fixture content ([[FixtureCache]]);
  *    every invocation then serves the production read: codebook +
  *    centroid sidecars loaded, probed cell directories pruned statically,
  *    ADC over codes, recall scored on what was SERVED. The DuckDB oracle
  *    replays training, routing, ADC ([[Extensions31.ivfPqOracleChain]])
  *    plus the brute-force truth and the recall join.
  */
object Extensions34 {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** x107: build-or-reuse the fixture PQ store (a [[FixtureCache]]
    * entry whose build looks up the x95 codebook), serve the query batch
    * (vec_id < 10) through [[PqStore.topKFromIndex]], score recall@5
    * against exact quantized-L2 brute force.
    */
  def x107PqStoreRecall(s: SparkSession, dir: String): DataFrame = {
    val vectors = emb(s, dir)
    val path = FixtureCache.store(s, dir, "embeddings", "x107-pqstore")(PqStore.writeIndex(
      vectors, "vec_id", "embedding", Extensions27.fixtureCodebook(s, dir), _))
    val q = vectors.filter(col("vec_id") < 10)
    val ann = PqStore.topKFromIndex(s, path, q, "vec_id", "embedding", k = 5)
    val truth = Extensions27.bruteTopK(vectors, q, "vec_id", "embedding", k = 5)
      .select(col("q_id"), col("c_id"))
    Extensions4.recallAtK(ann, truth)
  }

  private val x107OracleSql: String = Extensions31.ivfPqOracleChain + s""",
    truth AS (SELECT q_id, c_id FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY ${Extensions31.oracleDist("q", "c")}, c.vec_id) AS rk
        FROM qv q JOIN qv c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 10) t
      WHERE rk <= 5),
    ann AS (SELECT q_id, c_id FROM ranked WHERE rk <= 5),
    den AS (SELECT q_id, count(*) AS n_truth FROM truth GROUP BY q_id),
    hit AS (SELECT t.q_id, count(*) AS n_hit
            FROM truth t JOIN ann a ON a.q_id = t.q_id AND a.c_id = t.c_id
            GROUP BY t.q_id)
    SELECT den.q_id, den.n_truth,
           coalesce(hit.n_hit, 0) AS n_hit,
           round(coalesce(hit.n_hit, 0) * 10000.0 / den.n_truth, 0) / 10000.0 AS recall
    FROM den LEFT JOIN hit ON den.q_id = hit.q_id
    ORDER BY den.q_id"""

  val entries: Seq[Entry] = Seq(
    Entry("x107_pqstore_recall", x107PqStoreRecall _, x107OracleSql))
}
