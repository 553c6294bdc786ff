package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Ninety-fifth extension batch — steer the mixture, price the
  * context window:
  *
  *  - mixture rebalance plan (x218): given target source shares, the
    * per-source epoch multiplier that GETS there — the number
    * [[Extensions6.epochUpsample]] consumes. x159 reads the mixture,
    * x214 reads its drift; this prescribes the correction.
  *  - truncation loss card (x219): for each candidate context length,
    * how many documents truncate and what fraction of corpus tokens
    * falls off the end — the cost side of the ctx-length decision
    * whose fill side is [[Extensions20.packingCurve]] (packing wastes
    * padding on SHORT docs; truncation loses tails of LONG ones; you
    * pick ctx where the two curves cross).
  *
  * Determinism discipline: x218's multiplier is an exact rational
  * t‰·N / (1000·n_h) rendered by half-away division in 128-bit (a
  * product of corpus-scale counts — the x162 rule), with the cap an
  * integer comparison; x219 is exact token counts end to end.
  */
object Extensions95 {

  // ---- x218: mixture rebalance plan --------------------------------------------

  /** Per source: current docs/share, the target permille, the epoch
    * multiplier t‰·N/(1000·n_h) to reach it (4dp, half-away, 128-bit),
    * and whether the `maxEpochs` cap bit it. Sources absent from
    * `targets` get target 0 (factor 0 — drop entirely); target
    * permilles need not sum to 1000 (the plan normalizes nothing —
    * it renders exactly what was asked).
    *
    * Scale: one source hash-agg, the ≤sources target spine broadcast,
    * float-free arithmetic on the dimension-sized table.
    */
  def mixtureRebalancePlan(
      corpus: DataFrame, sourceCol: String, targets: Map[String, Long],
      maxEpochs: Long = 10L): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(t => t >= 0L && t <= 1000L))
    val spark = corpus.sparkSession
    import spark.implicits._
    val spine = targets.toSeq.toDF("source", "t")
    val per = corpus.select(col(sourceCol).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
    val tot = per.agg(sum(col("n")).as("nt"))
    per
      .join(broadcast(spine), Seq("source"), "left_outer")
      .withColumn("t", coalesce(col("t"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("f4", expr(
        "CAST((CAST(t AS DECIMAL(38,0)) * nt * 10000 * 2 + 1000 * n) DIV (2000 * CAST(n AS DECIMAL(38,0))) AS BIGINT)"))
      .select(col("source"), col("n").as("n_docs"),
        expr("((n * 10000 * 2 + nt) DIV (2 * nt)) / 10000.0D").as("share"),
        (col("t") / lit(1000.0d)).as("target_share"),
        (least(col("f4"), lit(maxEpochs * 10000L)) / lit(10000.0d))
          .as("epochs_factor"),
        (col("f4") > lit(maxEpochs * 10000L)).as("capped"))
  }

  /** x218: rebalance the four first fixture sources toward a planted
    * 400/300/200/100 permille target (all other sources drop).
    */
  def x218RebalancePlan(s: SparkSession, dir: String): DataFrame =
    mixtureRebalancePlan(
      Tables.load(s, dir, "documents")
        .filter(col("source").isin("src0", "src1", "src2", "src3")),
      "source",
      Map("src0" -> 400L, "src1" -> 300L, "src2" -> 200L, "src3" -> 100L))

  private val x218OracleSql: String = """
      WITH per AS (SELECT source, count(*) AS n FROM documents
                   WHERE source IN ('src0', 'src1', 'src2', 'src3')
                   GROUP BY source),
      tg AS (SELECT * FROM (VALUES ('src0', 400), ('src1', 300),
                                   ('src2', 200), ('src3', 100)) AS t(source, t)),
      nt AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM per),
      j AS (SELECT per.source, per.n, coalesce(tg.t, 0) AS t, nt.nt
            FROM per LEFT JOIN tg ON tg.source = per.source, nt),
      f AS (SELECT *, CAST((CAST(t AS HUGEINT) * nt * 10000 * 2 + 1000 * n)
                  // (2000 * CAST(n AS HUGEINT)) AS BIGINT) AS f4
            FROM j)
      SELECT source, n AS n_docs,
             ((n * 10000 * 2 + nt) // (2 * nt)) / 10000.0 AS share,
             t / 1000.0 AS target_share,
             least(f4, 100000) / 10000.0 AS epochs_factor,
             f4 > 100000 AS capped
      FROM f
      ORDER BY source"""

  // ---- x219: truncation loss card ----------------------------------------------

  /** For each candidate context length: documents longer than it, the
    * exact tokens lost to truncation, and the lost share of all corpus
    * tokens. Output: (ctx_len, n_docs, n_truncated,
    * tokens_total, tokens_lost, lost_share).
    *
    * Scale: ONE token-count pass (map-only n_tok per doc), a broadcast
    * ctx spine fan-out (|ctxLens| rows per doc — bounded), one
    * ctx hash-agg. The corpus tokenizes once for every candidate.
    */
  def truncationLossCard(
      corpus: DataFrame, textCol: String, ctxLens: Seq[Int]): DataFrame = {
    require(ctxLens.nonEmpty && ctxLens.forall(_ > 0))
    val spark = corpus.sparkSession
    import spark.implicits._
    val spine = ctxLens.map(_.toLong).toDF("ctx_len")
    corpus
      .select(size(split(col(textCol), " ")).cast("long").as("tok"))
      .crossJoin(broadcast(spine))
      .groupBy(col("ctx_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("tok") > col("ctx_len"), 1L).otherwise(0L)).as("n_truncated"),
        sum(col("tok")).as("tokens_total"),
        sum(greatest(col("tok") - col("ctx_len"), lit(0L))).as("tokens_lost"))
      .select(col("ctx_len"), col("n_docs"), col("n_truncated"),
        col("tokens_total"), col("tokens_lost"),
        expr("((tokens_lost * 10000 * 2 + tokens_total) DIV (2 * tokens_total)) / 10000.0D")
          .as("lost_share"))
  }

  /** x219: truncation cost of the fixture corpus at 16/32/64/128. */
  def x219TruncationLoss(s: SparkSession, dir: String): DataFrame =
    truncationLossCard(Tables.load(s, dir, "documents"), "text",
      Seq(16, 32, 64, 128))

  private val x219OracleSql: String = """
      WITH tk AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
                  FROM documents),
      sp AS (SELECT CAST(c AS BIGINT) AS ctx_len
             FROM (VALUES (16), (32), (64), (128)) AS t(c)),
      g AS (SELECT sp.ctx_len, count(*) AS n_docs,
              CAST(sum(CASE WHEN tk.tok > sp.ctx_len THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
              CAST(sum(tk.tok) AS BIGINT) AS tokens_total,
              CAST(sum(CASE WHEN tk.tok > sp.ctx_len THEN tk.tok - sp.ctx_len ELSE 0 END) AS BIGINT) AS tokens_lost
            FROM tk CROSS JOIN sp
            GROUP BY sp.ctx_len)
      SELECT ctx_len, n_docs, n_truncated, tokens_total, tokens_lost,
             ((tokens_lost * 10000 * 2 + tokens_total) // (2 * tokens_total)) / 10000.0 AS lost_share
      FROM g
      ORDER BY ctx_len"""

  val entries: Seq[Entry] = Seq(
    Entry("x218_rebalance_plan", x218RebalancePlan _, x218OracleSql),
    Entry("x219_truncation_loss", x219TruncationLoss _, x219OracleSql))
}
