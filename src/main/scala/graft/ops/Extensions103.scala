package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-third extension batch — the asymmetric dup signal:
  *
  *  - containment pairs (x234): Jaccard misses the quote-inclusion
  *    case by construction — a 50-shingle doc wholly contained in a
  *    5000-shingle doc has J ≈ 0.01 but containment 1.0. Real corpus
  *    dedup (news wire in aggregator pages, license boilerplate around
  *    code) keys on C = shared/min(na, nb); this surfaces exactly the
  *    pairs the x02 chain is blind to.
  *
  * Determinism discipline: containment rounds to 4dp before
  * thresholding (the x02 contract).
  */
object Extensions103 {

  // ---- x234: containment pairs --------------------------------------------------

  /** Shingle-containment pairs: C = shared / min(na, nb) ≥ `threshold`,
    * output (doc_a, doc_b, jaccard, containment), doc_a < doc_b — the
    * asymmetric dup verdict for doc-inside-doc. Same inverted-index
    * join geometry as the x02 chain (never all-pairs); only the final
    * ratio differs, which is the point: the output is exactly the pair
    * set Jaccard under-scores.
    *
    * Scale: identical to [[Extensions.jaccardPairs]] — candidate volume
    * tracks shared shingles, 8-byte keys shuffle.
    */
  def containmentPairs(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.9, shingleSize: Int = 5): DataFrame = {
    val sh = Extensions.shingleIndexFastOf(corpus, idCol, textCol, shingleSize)
    sh.as("x").join(sh.as("y").hint("shuffle_hash"),
        col("x.shk") === col("y.shk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n_sh").as("na"), col("y.n_sh").as("nb"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"), max(col("na")).as("na"), max(col("nb")).as("nb"))
      .select(col("doc_a"), col("doc_b"),
        Extensions.round4o(col("shared") / (col("na") + col("nb") - col("shared")))
          .as("jaccard"),
        Extensions.round4o(col("shared") / least(col("na"), col("nb")))
          .as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** x234: plant doc-inside-doc cases the Jaccard chain under-scores —
    * every 25th doc's text embedded inside its neighbor's — and surface
    * them by containment.
    */
  def x234ContainmentPairs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val host = d.filter(pmod(col("doc_id"), lit(25L)) === 0L)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(lit("prefix commentary before the quoted material "),
          col("text"), lit(" and trailing analysis after the quote ends")).as("text"))
    containmentPairs(
      d.select(col("doc_id"), col("text")).unionByName(host),
      "doc_id", "text", threshold = 0.8)
  }

  private val x234OracleSql: String = """
      WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000,
               'prefix commentary before the quoted material ' || text ||
               ' and trailing analysis after the quote ends'
        FROM documents WHERE doc_id % 25 = 0),
      d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM base),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1,
                CASE WHEN len(toks) >= 5 THEN len(toks) - 4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
      SELECT doc_a, doc_b,
             round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard,
             round(shared * 1.0 / least(ca.n_sh, cb.n_sh), 4) AS containment
      FROM prs
      JOIN cnt ca ON ca.doc_id = prs.doc_a
      JOIN cnt cb ON cb.doc_id = prs.doc_b
      WHERE round(shared * 1.0 / least(ca.n_sh, cb.n_sh), 4) >= 0.8
      ORDER BY doc_a, doc_b"""

  val entries: Seq[Entry] = Seq(
    Entry("x234_containment_pairs", x234ContainmentPairs _, x234OracleSql))
}
