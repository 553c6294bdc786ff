package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Nineteenth extension batch — split hygiene:
  *
  *  - cluster-safe train/val/test split (x79-shape, registered as x78):
  *    hashing DOC ids into splits leaks near-duplicates across the
  *    boundary (a val doc's twin sits in train and the eval number is
  *    fiction). Splitting by DUPLICATE COMPONENT sends whole near-dup
  *    clusters to one side — the split discipline deduplicated-corpus
  *    papers call out (Lee et al. 2022 §5).
  *  - decontamination gate (x77): x20 finds benchmark-contaminated
  *    training docs; this is the removal decision table — the
  *    full-corpus keep/drop verdict with the matched eval doc and
  *    overlap carried for the audit trail.
  */
object Extensions19 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- x77: decontamination gate ---------------------------------------------

  /** Full-train-set decontamination decision table: every training doc
    * with its best eval-set overlap (NULL when it shares no shingles
    * above the bar) and `keep` = overlap below `minOverlap`. The actual
    * drop is then one filter; keeping the table (rather than filtering
    * inline) is what makes the removal auditable and reversible.
    *
    * Scale: [[Extensions2.contaminationPairs]] does the heavy lift
    * through the shingle inverted index (train meets eval only on shared
    * shingles — never train × eval); this adds a left join of that
    * O(flagged) result back onto the train ids.
    */
  def decontaminate(
      train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
      minOverlap: Double = 0.3): DataFrame = {
    val flagged = Extensions2.contaminationPairs(
      train, eval, idCol, textCol, minOverlap)
    train.select(col(idCol).as("doc_id"))
      .join(flagged.withColumnRenamed("train_id", "doc_id"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        col("matched_eval_id").isNull.as("keep"),
        col("matched_eval_id"), col("overlap"))
  }

  /** x77: [[decontaminate]] with the x20 fixture split (eval = doc_id
    * < 50, train = the rest) at the 30% overlap bar.
    */
  def x77Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    decontaminate(d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50),
        "doc_id", "text", minOverlap = 0.3)
  }

  private val x77OracleSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      hits AS (SELECT t.doc_id AS train_id, e.doc_id AS eval_id, count(*) AS shared
               FROM sh t JOIN sh e ON t.sh = e.sh
               WHERE t.doc_id >= 50 AND e.doc_id < 50
               GROUP BY 1, 2),
      scored AS (SELECT train_id, eval_id,
                        round(shared * 1.0 / cnt.n_sh, 4) AS overlap
                 FROM hits JOIN cnt ON cnt.doc_id = train_id),
      best AS (SELECT *, row_number() OVER (PARTITION BY train_id
                        ORDER BY overlap DESC, eval_id) AS rk
               FROM scored),
      flagged AS (SELECT train_id, eval_id AS matched_eval_id, overlap
                  FROM best WHERE rk = 1 AND overlap >= 0.3)
      SELECT d2.doc_id,
             f.matched_eval_id IS NULL AS keep,
             f.matched_eval_id, f.overlap
      FROM (SELECT doc_id FROM documents WHERE doc_id >= 50) d2
      LEFT JOIN flagged f ON d2.doc_id = f.train_id
      ORDER BY d2.doc_id"""

  // ---- x78: cluster-safe split -----------------------------------------------

  /** Train/val/test split that cannot leak near-duplicates: the split
    * key is the DUPLICATE COMPONENT (connected components over the
    * verified near-dup pair graph; a doc outside any pair is its own
    * component), hashed through the portable md5 permille. Every member
    * of a duplicate cluster therefore lands in the same split — the
    * failure mode of id-hashed splits on undeduplicated corpora.
    *
    * Scale: CC runs on the pair graph (output-sized); the corpus sees
    * one equi-join + a map-side hash assignment. Same permille
    * determinism as x17/x60 (stable under retries and engines).
    */
  def clusterSafeSplit(
      corpus: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String,
      valPermille: Int = 100, testPermille: Int = 100): DataFrame = {
    val comp = Extensions2.connectedComponents(pairs, aCol, bCol)
    val bucket = graft.functions.HashFunctions
      .md5_bucket60(col("component").cast("string")) % 1000
    corpus.select(col(idCol).as("doc_id"))
      .join(comp, Seq("doc_id"), "left_outer")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .select(col("doc_id"), col("component"),
        when(bucket < testPermille, "test")
          .when(bucket < testPermille + valPermille, "val")
          .otherwise("train").as("split"))
  }

  /** x78: [[clusterSafeSplit]] over the x02 near-dup graph, 10/10/80. */
  def x78ClusterSafeSplit(s: SparkSession, dir: String): DataFrame =
    clusterSafeSplit(docs(s, dir), "doc_id",
        Extensions.x02JaccardPairs(s, dir).select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")

  private val x78OracleSql: String = """
      WITH RECURSIVE
      d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      jpairs AS (SELECT doc_a, doc_b
                 FROM pairs
                 JOIN cnt ca ON ca.doc_id = doc_a
                 JOIN cnt cb ON cb.doc_id = doc_b
                 WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5),
      edges AS (SELECT doc_a AS src, doc_b AS dst FROM jpairs
                UNION ALL SELECT doc_b, doc_a FROM jpairs),
      reach(node, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
      cc AS (SELECT node AS doc_id, min(comp) AS component FROM reach GROUP BY node),
      assigned AS (SELECT doc.doc_id, coalesce(cc.component, doc.doc_id) AS component
                   FROM documents doc LEFT JOIN cc ON doc.doc_id = cc.doc_id)
      SELECT doc_id, component,
             CASE WHEN ('0x' || substr(md5(component::VARCHAR), 1, 15))::BIGINT % 1000 < 100 THEN 'test'
                  WHEN ('0x' || substr(md5(component::VARCHAR), 1, 15))::BIGINT % 1000 < 200 THEN 'val'
                  ELSE 'train' END AS split
      FROM assigned
      ORDER BY doc_id"""

  val entries: Seq[Entry] = Seq(
    Entry("x77_decontaminate", x77Decontaminate _, x77OracleSql),
    Entry("x78_cluster_safe_split", x78ClusterSafeSplit _, x78OracleSql))
}
