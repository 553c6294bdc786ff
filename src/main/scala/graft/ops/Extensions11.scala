package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Eleventh extension batch — release engineering: deterministic
  * stratified train/val/test splitting (exhaustive, per-source balanced,
  * no RNG) and token-budget-constrained selection (the data-constrained
  * scaling cut: "take the best documents until the budget is spent",
  * shard-local so no global prefix scan exists).
  */
object Extensions11 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- stratified split ------------------------------------------------------

  /** Deterministic exhaustive train/val/test split, stratified by a
    * group column: each row's md5 bucket (of the id, salted per split
    * design) lands it in exactly one named split, with the SAME
    * fractions inside every group — so no source is over-represented in
    * validation. Unlike [[Extensions2.stratifiedSample]] (one keep set
    * at a per-group rate), this partitions the corpus exhaustively.
    *
    * `fractions` are integer permille (sum ≤ 1000; remainder = train) —
    * no float thresholds, bit-stable everywhere.
    *
    * Scale: pure map (md5 + two comparisons per row). The group column
    * plays no role in the assignment arithmetic — stratification falls
    * out of the hash's uniformity within every group — so there is no
    * shuffle at all.
    */
  def stratifiedSplit(
      df: DataFrame, idCol: String,
      valPermille: Int = 50, testPermille: Int = 50): DataFrame = {
    require(valPermille >= 0 && testPermille >= 0
      && valPermille + testPermille <= 1000,
      "val + test permille must fit in [0, 1000]")
    val bucket = pmod(
      graft.functions.HashFunctions.md5_bucket60(
        concat(col(idCol).cast("string"), lit(":split"))), lit(1000L))
    df.withColumn("split",
      when(bucket < valPermille, "val")
        .when(bucket < valPermille + testPermille, "test")
        .otherwise("train"))
  }

  /** x60: [[stratifiedSplit]] of the fixture at 10%/10%, reported as
    * per-(source, split) counts — the balance table a release publishes.
    */
  def x60StratifiedSplit(s: SparkSession, dir: String): DataFrame =
    stratifiedSplit(docs(s, dir), "doc_id", valPermille = 100, testPermille = 100)
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"))

  // ---- token-budget selection ------------------------------------------------

  /** Token-budget-constrained selection: keep the highest-`scoreCol`
    * documents until ~`budgetTokens` of token mass is selected. The
    * budget splits evenly across md5 shards of the id and each shard
    * fills independently (rank by score desc within the shard, running
    * token prefix-sum, keep while the PREVIOUS cumulative total is under
    * the shard budget — so the document that crosses the line is still
    * taken and every shard overshoots by < 1 document).
    *
    * Scale: this is the scale-safe form of "sort the corpus by quality
    * and take a prefix" — the global sort does not exist; each shard
    * sorts its n/nShards rows under a per-shard window. Uniform md5
    * sharding makes shard score distributions statistically identical,
    * so the union converges on the global greedy cut as nShards grows.
    */
  def budgetSelect(
      df: DataFrame, idCol: String, scoreCol: String, tokenCol: String,
      budgetTokens: Long, nShards: Int): DataFrame = {
    require(nShards > 0 && budgetTokens > 0)
    val shardBudget = budgetTokens / nShards
    val shard = pmod(
      graft.functions.HashFunctions.md5_bucket60(
        concat(col(idCol).cast("string"), lit(":bsel"))), lit(nShards.toLong))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col(scoreCol).desc, col(idCol))
    df.withColumn("shard", shard)
      .withColumn("cum_before",
        coalesce(sum(col(tokenCol)).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("selected", col("cum_before") < shardBudget)
  }

  /** x61: [[budgetSelect]] of the fixture — best-quality docs (x38
    * score) until ~40% of the corpus token mass, over 4 shards.
    */
  def x61BudgetSelect(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val scored = Extensions5.hashedLinearScore(d, "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), col("score"))
    budgetSelect(scored, "doc_id", "score", "n_tokens",
        budgetTokens = 12000L, nShards = 4)
      .select(col("doc_id"), col("shard"), col("score"),
        col("n_tokens"), col("cum_before"), col("selected"))
  }

  val entries: Seq[Entry] = Seq(
    Entry("x60_stratified_split", x60StratifiedSplit _, """
      WITH s AS (
        SELECT source,
               CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 15))::BIGINT % 1000 < 100 THEN 'val'
                    WHEN ('0x' || substr(md5(doc_id::VARCHAR || ':split'), 1, 15))::BIGINT % 1000 < 200 THEN 'test'
                    ELSE 'train' END AS split
        FROM documents)
      SELECT source, split, count(*) AS n_docs
      FROM s GROUP BY 1, 2 ORDER BY source, split"""),
    Entry("x61_budget_select", x61BudgetSelect _, """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      t AS (SELECT doc_id, len(tk) AS n_tokens, u.tok FROM d, UNNEST(tk) AS u(tok)),
      sc AS (SELECT doc_id, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
                    sign(sum(('0x' || substr(md5(tok), 1, 15))::BIGINT % 2001 - 1000))
                      * ((abs(sum(('0x' || substr(md5(tok), 1, 15))::BIGINT % 2001 - 1000) * 10) * 2
                          + max(n_tokens)) // (max(n_tokens) * 2)) / 10000.0 AS score
             FROM t GROUP BY doc_id),
      sh AS (SELECT *,
                    ('0x' || substr(md5(doc_id::VARCHAR || ':bsel'), 1, 15))::BIGINT % 4 AS shard
             FROM sc),
      c AS (SELECT *,
                   CAST(coalesce(sum(n_tokens) OVER (
                     PARTITION BY shard ORDER BY score DESC, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                     AS cum_before
            FROM sh)
      SELECT doc_id, shard, score, n_tokens, cum_before,
             cum_before < 3000 AS selected
      FROM c ORDER BY doc_id"""))
}
