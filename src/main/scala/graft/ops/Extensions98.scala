package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Ninety-eighth extension batch — the shape of the duplication, and
  * who copies whom:
  *
  *  - duplicate-cluster size histogram (x224): near-dup components
  *    binned by size — "is our duplication a few mega-clusters
  *    (boilerplate/mirror farms) or a long tail of pairs?" decides
  *    whether span-removal (x68) or doc-drop (x72) is the right
  *    treatment, and the biggest cluster is always worth reading.
  *  - cross-source leakage matrix (x225): near-dup pairs aggregated to
  *    (source_a, source_b) cells — the syndication/copy graph BETWEEN
  *    corpus sources (x213 reads the language seam pair by pair; this
  *    reads the source seam as a matrix).
  *
  * Determinism discipline: x224 rides the size-gated CC (min-label
  * semantics identical to the recursive-CTE oracle); x225 orders cells
  * on the (source_a, source_b) pair with sources normalized a ≤ b so
  * each undirected cell appears once; all shares half-away.
  */
object Extensions98 {

  // ---- x224: duplicate-cluster size histogram -----------------------------------

  /** Component-size histogram of the near-dup pair graph at
    * `threshold`: per cluster size s ≥ 2 — n_clusters, n_docs, the
    * share of ALL corpus docs sitting in clusters of that size, and
    * the min component id at that size (a concrete exhibit to read).
    * Singletons (undup'd docs) are excluded
    * from rows but included in the share denominator.
    *
    * Scale: components from the size-gated CC over the pair graph
    * (graph-sized); the histogram is two hash-aggs over O(clustered
    * docs); the corpus contributes ONE count.
    */
  def dupClusterSizes(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val pairs = Extensions.jaccardPairs(corpus, idCol, textCol, threshold)
    val comp = Extensions2.connectedComponents(pairs, "doc_a", "doc_b")
    val nDocs = corpus.select(col(idCol)).agg(count(lit(1)).as("n_total"))
    val bySize = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("s"))
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n_clusters"),
        min(col("component")).as("example_component"))
      .withColumn("n_docs", col("n_clusters") * col("s"))
    bySize.crossJoin(broadcast(nDocs))
      .select(col("s").as("cluster_size"), col("n_clusters"), col("n_docs"),
        expr("((n_docs * 10000 * 2 + n_total) DIV (2 * n_total)) / 10000.0D")
          .as("doc_share"),
        col("example_component"))
  }

  /** x224: the fixture's duplication shape at Jaccard 0.5. */
  def x224ClusterSizes(s: SparkSession, dir: String): DataFrame =
    dupClusterSizes(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x224OracleSql: String = """
      WITH RECURSIVE
      d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      jp AS (SELECT doc_a, doc_b FROM prs
             JOIN cnt ca ON ca.doc_id = doc_a
             JOIN cnt cb ON cb.doc_id = doc_b
             WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM jp
                UNION ALL SELECT doc_b, doc_a FROM jp),
      reach(node, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
      cc AS (SELECT node AS doc_id, min(comp) AS component FROM reach GROUP BY node),
      cs AS (SELECT component, count(*) AS s FROM cc GROUP BY component),
      hist AS (SELECT s, count(*) AS n_clusters,
                      CAST(count(*) * s AS BIGINT) AS n_docs,
                      min(component) AS example_component
               FROM cs GROUP BY s),
      nt AS (SELECT count(*) AS n_total FROM documents)
      SELECT s AS cluster_size, n_clusters, n_docs,
             ((n_docs * 10000 * 2 + n_total) // (2 * n_total)) / 10000.0 AS doc_share,
             example_component
      FROM hist, nt
      ORDER BY cluster_size"""

  // ---- x225: cross-source leakage matrix -----------------------------------------

  /** Near-dup pairs aggregated to undirected source cells: per
    * (source_a ≤ source_b) — n_pairs, the mean Jaccard (4dp off
    * micro-quantized per-pair values), and a cross flag. Output:
    * (source_a, source_b, n_pairs, mean_jaccard, is_cross).
    *
    * Scale: the x02 pair chain + two id-keyed source lookups + one
    * ≤sources² hash-agg — nothing corpus-width past the pair join.
    */
  def sourceLeakageMatrix(
      corpus: DataFrame, idCol: String, textCol: String, sourceCol: String,
      threshold: Double = 0.3): DataFrame = {
    val tags = corpus.select(col(idCol).as("doc_id"), col(sourceCol).as("src"))
    Extensions.jaccardPairs(corpus, idCol, textCol, threshold)
      .join(tags.select(col("doc_id").as("doc_a"), col("src").as("sa")), Seq("doc_a"))
      .join(tags.select(col("doc_id").as("doc_b"), col("src").as("sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        round(col("jaccard") * lit(10000.0d), 0).cast("long").as("j4"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("j4")).as("sj"))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        expr("((sj * 2 + n_pairs) DIV (2 * n_pairs)) / 10000.0D")
          .as("mean_jaccard"),
        (col("source_a") =!= col("source_b")).as("is_cross"))
  }

  /** x225: which fixture sources syndicate each other's text. */
  def x225SourceLeakage(s: SparkSession, dir: String): DataFrame =
    sourceLeakageMatrix(Tables.load(s, dir, "documents"),
      "doc_id", "text", "source")

  private val x225OracleSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      jp AS (SELECT doc_a, doc_b,
               round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard
             FROM prs
             JOIN cnt ca ON ca.doc_id = doc_a
             JOIN cnt cb ON cb.doc_id = doc_b
             WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.3),
      cells AS (SELECT least(da.source, db.source) AS source_a,
                       greatest(da.source, db.source) AS source_b,
                       CAST(round(jp.jaccard * 10000.0, 0) AS BIGINT) AS j4
                FROM jp
                JOIN documents da ON da.doc_id = jp.doc_a
                JOIN documents db ON db.doc_id = jp.doc_b),
      g AS (SELECT source_a, source_b, count(*) AS n_pairs,
                   CAST(sum(j4) AS BIGINT) AS sj
            FROM cells GROUP BY 1, 2)
      SELECT source_a, source_b, n_pairs,
             ((sj * 2 + n_pairs) // (2 * n_pairs)) / 10000.0 AS mean_jaccard,
             source_a <> source_b AS is_cross
      FROM g
      ORDER BY source_a, source_b"""

  val entries: Seq[Entry] = Seq(
    Entry("x224_cluster_sizes", x224ClusterSizes _, x224OracleSql),
    Entry("x225_source_leakage", x225SourceLeakage _, x225OracleSql))
}
