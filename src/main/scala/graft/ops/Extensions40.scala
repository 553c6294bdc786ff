package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Fortieth extension batch — uncertainty quantification:
  *
  *  - batch-means confidence interval (x116): the scalable answer to
    *  "what's the error bar on this corpus statistic" — partition the
    *  corpus into s deterministic md5 batches, compute the statistic
    *  per batch from exact integer sums, and build a t-interval from
    *  the spread of the batch means (the batch-means method; the same
    *  disjoint-subsets idea the Bag of Little Bootstraps (Kleiner et
    *  al. 2014) scales on — no resampling pass over the corpus, one
    *  aggregation). Determinism discipline: batch means quantize to
    *  exact micro-longs BEFORE the across-batch moments, so no float
    *  ever crosses an aggregation; the CI math runs on one final row.
  */
object Extensions40 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** t quantile (two-sided 95%) for s−1 degrees of freedom, pinned for
    * the batch counts the operator supports (fixed constants — no stats
    * library, identical in the oracle).
    */
  private val T975 = Map(9 -> 2.262d, 19 -> 2.093d, 29 -> 2.045d, 39 -> 2.023d)

  /** Batch-means 95% CI for the mean of an integer-valued per-row
    * metric: rows hash into `s` md5 batches; per batch the exact
    * (count, sum) reduce to a half-away micro-quantized batch mean;
    * across batches the exact Σmm/Σmm² yield mean, standard error, and
    * the t-interval. One corpus pass; everything after is ≤ s rows.
    */
  def batchMeansCi(
      rel: DataFrame, keyCol: String, metric: org.apache.spark.sql.Column,
      s: Int = 20): DataFrame = {
    require(T975.contains(s - 1), s"batchMeansCi: s must be one of ${T975.keys.map(_ + 1)}")
    val t = T975(s - 1)
    val perBatch = rel
      .select(pmod(graft.functions.HashFunctions.md5_bucket60(
        col(keyCol).cast("string")), lit(s.toLong)).as("b"), metric.as("v"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("nb"), sum(col("v")).as("sv"))
      // exact micro-quantized batch mean: halfAway(sv·1e4, nb)
      .select(col("b"), col("nb"),
        expr("(sv * 10000 * 2 + nb) DIV (2 * nb)").as("mm"))
    val moments = perBatch.agg(
      sum(col("nb")).as("n_rows"), count(lit(1)).as("n_batches"),
      sum(col("mm")).as("s1"), sum(col("mm") * col("mm")).as("s2"))
    val mean = col("s1").cast("double") / col("n_batches") / 10000.0d
    val varMeans = (col("s2") - col("s1").cast("double") * col("s1") / col("n_batches")) /
      (col("n_batches") - 1) / 1.0e8d
    val se = sqrt(varMeans / col("n_batches"))
    moments.select(col("n_rows"), col("n_batches"),
      round(mean, 4).as("mean"),
      round(se, 4).as("se"),
      round(mean - lit(t) * se, 4).as("ci_lo"),
      round(mean + lit(t) * se, 4).as("ci_hi"))
  }

  /** x116: 95% batch-means CI for the corpus mean document length
    * (tokens/doc) over 20 md5 batches.
    */
  def x116MeanCi(s: SparkSession, dir: String): DataFrame =
    batchMeansCi(docs(s, dir), "doc_id",
      size(split(lower(col("text")), " ")).cast("long"))

  private val x116OracleSql: String = """
      WITH v AS (SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 20 AS b,
                        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS v
                 FROM documents),
      pb AS (SELECT b, count(*) AS nb, CAST(sum(v) AS BIGINT) AS sv FROM v GROUP BY b),
      mm AS (SELECT b, nb, (sv * 10000 * 2 + nb) // (2 * nb) AS mm FROM pb),
      mo AS (SELECT CAST(sum(nb) AS BIGINT) AS n_rows, count(*) AS n_batches,
                    CAST(sum(mm) AS BIGINT) AS s1, CAST(sum(mm * mm) AS BIGINT) AS s2
             FROM mm)
      SELECT n_rows, n_batches,
             round(CAST(s1 AS DOUBLE) / n_batches / 10000.0, 4) AS mean,
             round(sqrt(((s2 - CAST(s1 AS DOUBLE) * s1 / n_batches) / (n_batches - 1) / 1e8)
                        / n_batches), 4) AS se,
             round(CAST(s1 AS DOUBLE) / n_batches / 10000.0
                   - 2.093 * sqrt(((s2 - CAST(s1 AS DOUBLE) * s1 / n_batches) / (n_batches - 1) / 1e8)
                                  / n_batches), 4) AS ci_lo,
             round(CAST(s1 AS DOUBLE) / n_batches / 10000.0
                   + 2.093 * sqrt(((s2 - CAST(s1 AS DOUBLE) * s1 / n_batches) / (n_batches - 1) / 1e8)
                                  / n_batches), 4) AS ci_hi
      FROM mo"""

  val entries: Seq[Entry] = Seq(
    Entry("x116_mean_ci", x116MeanCi _, x116OracleSql))
}
