package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-twenty-fourth extension batch — weight-of-evidence /
  * information-value feature audit (x275): the credit-scoring-era
  * feature diagnostic (Siddiqi 2006) the classifier tier lacked. Per
  * feature bucket: WoE = ln(share of positives / share of negatives),
  * and the feature's Information Value IV = Σ (p_share − n_share)·WoE
  * — the standard screen for "does this feature separate the classes
  * at all, and monotonically?" before it enters a model (IV < 0.02
  * useless, > 0.5 suspicious).
  *
  * Determinism: Laplace-smoothed shares stay exact integer fractions
  * until the single ln per bucket — WoE_micro = round(1e6 ·
  * ln((np+1)·(N_n+B) / ((nn+1)·(N_p+B)))), the argument an exact
  * integer ratio both engines compute identically; the IV terms are
  * integer micro products half-up scaled, summed exactly.
  *
  * Scale: ONE hash-agg to B bucket rows + a broadcast totals row —
  * the audit costs a group-by, whatever the corpus size.
  */
object Extensions124 {

  /** Per-bucket WoE card over a 0/1 label: (bucket, n_pos, n_neg,
    * woe_micro, iv_term_micro) + the total IV repeated per row
    * (iv_micro).
    */
  def woeIvCard(
      rel: DataFrame, bucketCol: String, labelCol: String): DataFrame = {
    val agg = rel.groupBy(col(bucketCol).cast("long").as("bucket"))
      .agg(sum(col(labelCol).cast("long")).as("n_pos"),
        sum(lit(1L) - col(labelCol).cast("long")).as("n_neg"))
    val totals = agg.agg(sum(col("n_pos")).as("tp"), sum(col("n_neg")).as("tn"),
      count(lit(1)).as("b"))
    val withTot = agg.crossJoin(broadcast(totals))
      // smoothed odds ratio as ONE exact integer fraction before the ln
      .withColumn("woe_micro",
        round(lit(1e6) * log(
          ((col("n_pos") + 1L) * (col("tn") + col("b"))).cast("double") /
            ((col("n_neg") + 1L) * (col("tp") + col("b"))).cast("double")), 0)
          .cast("long"))
      // share delta in micro (smoothed, half-up), exact integers
      .withColumn("dp_micro",
        expr("""((n_pos + 1) * 1000000 * 2 + (tp + b)) DIV (2 * (tp + b))
              - ((n_neg + 1) * 1000000 * 2 + (tn + b)) DIV (2 * (tn + b))"""))
      .withColumn("iv_term_micro",
        expr("""CAST(sign(dp_micro * woe_micro) AS BIGINT)
              * ((abs(dp_micro * woe_micro) * 2 + 1000000) DIV 2000000)"""))
    val iv = withTot.agg(sum(col("iv_term_micro")).as("iv_micro"))
    withTot.crossJoin(broadcast(iv))
      .select(col("bucket"), col("n_pos"), col("n_neg"),
        col("woe_micro"), col("iv_term_micro"), col("iv_micro"))
  }

  /** x275: does document length predict the Gopher keep label? Length
    * deciles (integer band = n_words DIV 50 capped at 9) vs keep.
    */
  def x275WoeIv(s: SparkSession, dir: String): DataFrame = {
    val labeled = Extensions20.gopherRuleCard(
        Tables.load(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("keep").cast("long").as("y"),
        expr("least(CAST(n_words AS BIGINT) DIV 50, 9)").as("len_band"))
    woeIvCard(labeled, "len_band", "y")
  }

  private val x275OracleSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk
                 FROM documents),
      f0 AS (SELECT doc_id, tk,
                CAST(len(tk) AS BIGINT) AS n_words,
                list_aggregate(list_transform(tk, t -> length(t)), 'sum') AS sum_len,
                len(list_filter(tk, t -> t IN ('the', 'a'))) AS n_stop,
                CASE WHEN len(tk) >= 2
                     THEN list_transform(generate_series(1, len(tk) - 1),
                            i -> tk[i] || ' ' || tk[i+1])
                     ELSE [] END AS g2
         FROM d),
      lab AS (SELECT doc_id, n_words,
          CASE WHEN n_words BETWEEN 50 AND 100000
                AND round(sum_len * 10000.0 / n_words, 0) / 10000.0 BETWEEN 3.0 AND 10.0
                AND round(n_stop * 10000.0 / n_words, 0) / 10000.0 <= 0.25
                AND (CASE WHEN len(g2) > 0
                          THEN round((len(g2) - len(list_distinct(g2))) * 10000.0 / len(g2), 0) / 10000.0
                          ELSE 0.0 END) <= 0.2
               THEN 1 ELSE 0 END AS y
          FROM f0),
      banded AS (SELECT least(n_words // 50, 9) AS bucket, y FROM lab),
      agg AS (SELECT bucket, CAST(sum(y) AS BIGINT) AS n_pos,
                     CAST(sum(1 - y) AS BIGINT) AS n_neg
              FROM banded GROUP BY bucket),
      tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tp,
                     CAST(sum(n_neg) AS BIGINT) AS tn,
                     CAST(count(*) AS BIGINT) AS b FROM agg),
      woe AS (SELECT bucket, n_pos, n_neg,
                 CAST(round(1e6 * ln(
                   CAST((n_pos + 1) * (tn + b) AS DOUBLE) /
                   CAST((n_neg + 1) * (tp + b) AS DOUBLE)), 0) AS BIGINT) AS woe_micro,
                 ((n_pos + 1) * 1000000 * 2 + (tp + b)) // (2 * (tp + b))
                 - ((n_neg + 1) * 1000000 * 2 + (tn + b)) // (2 * (tn + b)) AS dp_micro
              FROM agg, tot),
      terms AS (SELECT bucket, n_pos, n_neg, woe_micro,
                   CAST(sign(dp_micro * woe_micro) AS BIGINT)
                     * ((abs(dp_micro * woe_micro) * 2 + 1000000) // 2000000)
                     AS iv_term_micro
                FROM woe),
      iv AS (SELECT CAST(sum(iv_term_micro) AS BIGINT) AS iv_micro FROM terms)
      SELECT t.bucket, t.n_pos, t.n_neg, t.woe_micro, t.iv_term_micro, i.iv_micro
      FROM terms t, iv i
      ORDER BY t.bucket"""

  val entries: Seq[Entry] = Seq(
    Entry("x275_woe_iv", x275WoeIv _, x275OracleSql))
}
