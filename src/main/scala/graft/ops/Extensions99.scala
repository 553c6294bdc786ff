package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.functions.VectorFunctions

/** Ninety-ninth extension batch — calibrate the embedding dedup the
  * way the text dedup already is:
  *
  *  - cosine threshold curve (x226): pair counts per cosine threshold
  *    over the SIGN-BUCKETED candidate pairs — the x158
  *    (Jaccard-threshold) calibration tool for the embedding path;
  *    where the curve elbows is where SemDeDup's threshold belongs.
  *  - near-dup transitivity audit (x227): closed vs open wedges in the
  *    near-dup pair graph — a~b and b~c, is a~c? The open share is
  *    exactly the disagreement between pairwise dropping and
  *    connected-component clustering (x72), i.e. the measured
  *    justification for running CC at all.
  *
  * Determinism discipline: x226 replays the exact sign-bucket
  * arithmetic + 4dp-round-before-threshold cosine (the x06/x05
  * contracts); x227's wedge/closure counts are exact integers off the
  * 4dp pair set, shares half-away.
  */
object Extensions99 {

  // ---- x226: cosine threshold curve ----------------------------------------------

  /** Per cosine threshold t over `thresholds`: candidate pairs (same
    * sign bucket, a < b) with cos ≥ t, and their share of all
    * candidates. Output: (threshold, n_candidates, n_pairs,
    * pair_share).
    *
    * Scale: candidates come from the sign-bucket equi-join (never
    * n²); cosines compute once and the sweep is conditional sums
    * against a broadcast spine — the x158 shape on the embedding path.
    */
  def cosineThresholdCurve(
      vectors: DataFrame, idCol: String, vecCol: String,
      signBits: Int = Extensions.SignBits,
      thresholds: Seq[Double] = (5 to 19).map(_ / 20.0)): DataFrame = {
    require(thresholds.nonEmpty)
    val spark = vectors.sparkSession
    import spark.implicits._
    def bucket(v: Column): Column = Extensions.signBucket(v, signBits)
    val side = vectors.select(col(idCol).as("id"), col(vecCol).as("v"),
      bucket(col(vecCol)).as("bkt"))
    val pairs = side.as("x").join(side.as("y"),
        col("x.bkt") === col("y.bkt") && col("x.id") < col("y.id"))
      .select(Extensions.round4o(
        VectorFunctions.cosine_similarity(col("x.v"), col("y.v"))).as("cos"))
    val spine = thresholds.map(t => BigDecimal(t).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble).toDF("threshold")
    pairs.crossJoin(broadcast(spine))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("cos") >= col("threshold"), 1L).otherwise(0L)).as("n_pairs"))
      .select(col("threshold"), col("n_candidates"), col("n_pairs"),
        expr("((n_pairs * 10000 * 2 + n_candidates) DIV (2 * n_candidates)) / 10000.0D")
          .as("pair_share"))
  }

  /** x226: where does the fixture's embedding-dedup threshold belong? */
  def x226CosineCurve(s: SparkSession, dir: String): DataFrame =
    cosineThresholdCurve(Tables.load(s, dir, "embeddings"),
      "vec_id", "embedding")

  private val x226OracleSql: String = {
    val bkt = (0 until 6)
      .map(b => s"(CASE WHEN embedding[${b + 1}] > 0 THEN ${1 << b} ELSE 0 END)")
      .mkString("\n             + ")
    val ts = (5 to 19).map(i => s"(${i / 20.0})").mkString(", ")
    s"""
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               $bkt AS bkt
        FROM embeddings),
      prs AS (SELECT round(list_cosine_similarity(a.v, b.v), 4) AS cos
              FROM base a JOIN base b ON a.bkt = b.bkt AND a.vec_id < b.vec_id),
      sp AS (SELECT round(t, 4) AS threshold
             FROM UNNEST([$ts]) AS u(t)),
      g AS (SELECT sp.threshold, count(*) AS n_candidates,
              CAST(sum(CASE WHEN prs.cos >= sp.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
            FROM prs CROSS JOIN sp
            GROUP BY sp.threshold)
      SELECT threshold, n_candidates, n_pairs,
             ((n_pairs * 10000 * 2 + n_candidates) // (2 * n_candidates)) / 10000.0 AS pair_share
      FROM g
      ORDER BY threshold"""
  }

  // ---- x227: near-dup transitivity audit ------------------------------------------

  /** Wedge closure of the near-dup pair graph at `threshold`: wedges
    * (a–b, b–c with a < c over the undirected pair set), closed
    * wedges (a–c also a pair), and the closure share. ONE output row:
    * (n_pairs, n_wedges, n_closed, closure_share) — a low share means
    * pairwise keep-first and CC clustering genuinely disagree, and CC
    * (x72) is the defensible choice.
    *
    * Scale: pairs are the bucketed x02 output (graph-sized); wedges
    * are one self-join of the mirrored pair list on the middle node;
    * closure is one left-semi against the pair set. Never
    * corpus-sized.
    */
  def dupTransitivityAudit(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.3): DataFrame = {
    val pairs = Extensions.materialized(
      Extensions.jaccardPairs(corpus, idCol, textCol, threshold)
        .select(col("doc_a"), col("doc_b")))
    val und = pairs.select(explode(array(
        struct(col("doc_a").as("u"), col("doc_b").as("w")),
        struct(col("doc_b").as("u"), col("doc_a").as("w")))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"))
    val wedges = und.as("l").join(und.as("r"), col("l.w") === col("r.u"))
      .filter(col("l.u") < col("r.w"))
      .select(col("l.u").as("a"), col("r.w").as("c"))
    val closed = wedges.join(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("c")),
      Seq("a", "c"), "left_semi")
    val np = pairs.agg(count(lit(1)).as("n_pairs"))
    val nw = wedges.agg(count(lit(1)).as("n_wedges"))
    val nc = closed.agg(count(lit(1)).as("n_closed"))
    np.crossJoin(nw).crossJoin(nc)
      .select(col("n_pairs"), col("n_wedges"), col("n_closed"),
        when(col("n_wedges") > 0L,
          expr("((n_closed * 10000 * 2 + n_wedges) DIV (2 * n_wedges)) / 10000.0D"))
          .as("closure_share"))
  }

  /** x227: does the fixture's 0.3-Jaccard pair graph close? */
  def x227Transitivity(s: SparkSession, dir: String): DataFrame =
    dupTransitivityAudit(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x227OracleSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
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
             WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.3),
      und AS (SELECT doc_a AS u, doc_b AS w FROM jp
              UNION ALL SELECT doc_b, doc_a FROM jp),
      wedges AS (SELECT l.u AS a, r.w AS c
                 FROM und l JOIN und r ON l.w = r.u
                 WHERE l.u < r.w),
      closed AS (SELECT w.a, w.c FROM wedges w
                 WHERE EXISTS (SELECT 1 FROM jp
                               WHERE jp.doc_a = w.a AND jp.doc_b = w.c)),
      agg AS (SELECT
        (SELECT count(*) FROM jp) AS n_pairs,
        (SELECT count(*) FROM wedges) AS n_wedges,
        (SELECT count(*) FROM closed) AS n_closed)
      SELECT n_pairs, n_wedges, n_closed,
             CASE WHEN n_wedges > 0 THEN
               ((n_closed * 10000 * 2 + n_wedges) // (2 * n_wedges)) / 10000.0
             END AS closure_share
      FROM agg"""

  val entries: Seq[Entry] = Seq(
    Entry("x226_cosine_curve", x226CosineCurve _, x226OracleSql),
    Entry("x227_dup_transitivity", x227Transitivity _, x227OracleSql))
}
