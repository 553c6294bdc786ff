package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Thirty-third extension batch — privacy audit:
  *
  *  - k-anonymity report (x106): Sweeney 2002 — how re-identifiable is
  *    a table through a set of quasi-identifier columns? Rows whose
  *    quasi-identifier combination occurs fewer than k times are
  *    re-identification risks; a release gate reads the risk fraction
  *    the way x93 reads PSI. Training corpora carry user metadata
  *    through curation pipelines, and "did we just ship a table where
  *    4% of rows are unique on (nation, segment, birth-bucket)" is a
  *    question the engine must answer in one aggregation.
  */
object Extensions33 {

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** One-row k-anonymity summary over `quasiCols`: total rows, distinct
    * quasi-identifier classes, rows in classes smaller than `k`, the
    * risk fraction (4dp product-form), and the smallest class size (=
    * the table's actual k-anonymity level).
    *
    * Scale: one hash-agg to class sizes (partial map-side), one tiny
    * agg over the class table — the audit of a 10^10-row table is one
    * aggregation pass; no row-level data leaves the executors.
    */
  def kAnonymityReport(
      rel: DataFrame, quasiCols: Seq[String], k: Int = 5): DataFrame = {
    require(quasiCols.nonEmpty, "kAnonymityReport: need quasi-identifier columns")
    val classes = rel.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
    classes.agg(
        sum(col("n")).as("n_rows"),
        count(lit(1)).as("n_classes"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).as("n_risky_rows"),
        min(col("n")).as("k_anonymity"))
      .select(col("n_rows"), col("n_classes"), col("n_risky_rows"),
        Extensions.round4o(col("n_risky_rows") / col("n_rows")).as("risk_frac"),
        col("k_anonymity"))
  }

  /** x106: [[kAnonymityReport]] of the customer table through the
    * (nation, market segment) quasi-identifier pair at k = 5.
    */
  def x106KAnonymity(s: SparkSession, dir: String): DataFrame =
    kAnonymityReport(table(s, dir, "customer"),
      Seq("c_nationkey", "c_mktsegment"), k = 5)

  private val x106OracleSql: String = """
      WITH cl AS (SELECT c_nationkey, c_mktsegment, count(*) AS n
                  FROM customer GROUP BY 1, 2)
      SELECT CAST(sum(n) AS BIGINT) AS n_rows,
             count(*) AS n_classes,
             CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS n_risky_rows,
             round(CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) * 10000.0
                   / CAST(sum(n) AS BIGINT), 0) / 10000.0 AS risk_frac,
             CAST(min(n) AS BIGINT) AS k_anonymity
      FROM cl"""

  val entries: Seq[Entry] = Seq(
    Entry("x106_k_anonymity", x106KAnonymity _, x106OracleSql))
}
