package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Twentieth extension batch — mixture budgeting and rule-card gating:
  *
  *  - waterfill token-budget allocation (x79): given a total token
  *    budget, grant each source min(its mass, cap) where the cap is the
  *    exact waterfill level Σ min(n_i, c) = B — small sources keep
  *    everything, large sources are truncated at one fair level. The
  *    closed-form mixture-design step behind "cap web, keep all of
  *    wiki" data recipes.
  *  - Gopher rule card (x80): Rae et al. 2021's document-quality rule
  *    bundle as ONE auditable table — per-rule booleans + the combined
  *    keep, so a release can report per-rule attrition (pairs with the
  *    x46 funnel) instead of a black-box filter.
  */
object Extensions20 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- x79: waterfill budget allocation --------------------------------------

  /** Exact waterfill over per-source token masses. Returns one row per
    * source: its mass, the allocation min(mass, cap), and the share of
    * the budget. cap solves Σ min(n_i, cap) = budget on the sorted mass
    * ladder: walking sources by ascending mass, the first rung j where
    * (B − cum_{<j}) / (S − j + 1) ≤ n_j holds that level. A budget ≥ the
    * total grants everything (cap = ∞).
    *
    * Scale: the corpus collapses to S source rows in one hash-agg; the
    * ladder walk is a window over those S rows (sources are thousands at
    * most — the x65 "window over aggregated rows only" discipline); the
    * cap broadcasts back as a one-row cross join.
    */
  def waterfillBudget(
      corpus: DataFrame, sourceCol: String, textCol: String,
      budgetFrac: Double): DataFrame = {
    val masses = corpus
      .groupBy(col(sourceCol).as("source"))
      .agg(sum(size(split(lower(col(textCol)), " ")).cast("long")).as("n_tokens"))
    val total = masses.agg(sum(col("n_tokens")).as("total"))
    val w = Window.orderBy(col("n_tokens"), col("source"))
    val ladder = masses.crossJoin(broadcast(total))
      .withColumn("budget", floor(col("total") * budgetFrac).cast("long"))
      .withColumn("j", row_number().over(w))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("s_total", count(lit(1)).over(
        Window.partitionBy(lit(1))))
      .withColumn("cand_cap",
        (col("budget") - (col("cum") - col("n_tokens")))
          / (col("s_total") - col("j") + 1L))
    // the first rung (ascending mass) whose candidate level fits is the
    // waterfill cap; no rung fitting means the budget covers everything
    val cap = ladder.filter(col("cand_cap") <= col("n_tokens"))
      .orderBy(col("j")).limit(1)
      .select(col("cand_cap").as("cap"))
    // left-outer on TRUE, not crossJoin: cap is EMPTY when the budget
    // covers the whole corpus, and a cross join against an empty side
    // would wipe the ladder instead of granting every source in full
    ladder
      .join(broadcast(cap), lit(true), "left_outer")
      .select(col("source"), col("n_tokens"), col("budget"),
        Extensions.round4o(least(col("n_tokens").cast("double"),
          coalesce(col("cap"), col("n_tokens").cast("double")))).as("alloc_tokens"))
      .withColumn("share",
        Extensions.round4o(col("alloc_tokens") / col("budget")))
  }

  /** x79: [[waterfillBudget]] at 90% of the fixture's token mass — the
    * cap lands inside the source-size range, so some sources are fully
    * granted and the largest are truncated (both branches exercised).
    */
  def x79WaterfillBudget(s: SparkSession, dir: String): DataFrame =
    waterfillBudget(docs(s, dir), "source", "text", budgetFrac = 0.9)

  private val x79OracleSql: String = """
      WITH m AS (SELECT source, CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT) AS n_tokens
                 FROM documents GROUP BY source),
      t AS (SELECT sum(n_tokens) AS total, count(*) AS s_total FROM m),
      ladder AS (SELECT m.source, m.n_tokens,
                        CAST(floor(t.total * 0.9) AS BIGINT) AS budget,
                        row_number() OVER (ORDER BY m.n_tokens, m.source) AS j,
                        sum(m.n_tokens) OVER (ORDER BY m.n_tokens, m.source
                          ROWS UNBOUNDED PRECEDING) AS cum,
                        t.s_total
                 FROM m, t),
      cand AS (SELECT *,
                      (budget - (cum - n_tokens)) * 1.0 / (s_total - j + 1) AS cand_cap
               FROM ladder),
      cap AS (SELECT cand_cap AS cap FROM cand
              WHERE cand_cap <= n_tokens ORDER BY j LIMIT 1)
      SELECT c.source, c.n_tokens, c.budget,
             round(least(c.n_tokens * 1.0, coalesce(cap.cap, c.n_tokens * 1.0)) * 10000.0, 0) / 10000.0
               AS alloc_tokens,
             round(least(c.n_tokens * 1.0, coalesce(cap.cap, c.n_tokens * 1.0)) / c.budget * 10000.0, 0) / 10000.0
               AS share
      FROM cand c LEFT JOIN cap ON TRUE
      ORDER BY c.source"""

  // ---- x80: Gopher rule card -------------------------------------------------

  /** The Gopher document-quality rules as an auditable per-doc rule
    * card: word count ∈ [50, 100k], mean word length ∈ [3, 10],
    * stopword ratio ≤ 0.25, duplicate-2-gram fraction ≤ 0.2 — each rule
    * a column, `keep` their conjunction. Map-only (tokenize + HOF
    * arithmetic, no shuffle); every ratio goes through the oracle-round
    * product form.
    */
  def gopherRuleCard(corpus: DataFrame, idCol: String, textCol: String,
      carryCols: Seq[String] = Nil): DataFrame = {
    // the token array and the bigram array BIND to columns before any
    // lambda touches them: an expression inside a HOF lambda re-evaluates
    // per element, so an inline split() makes every per-token lambda
    // re-tokenize the whole document — O(n²/doc), measured 27s at sf0.1
    // for this map-only card. Multi-use aliases survive CollapseProject.
    // `carryCols` ride along unchanged so a consumer (x94 training labels)
    // can fuse the card into its own map stage instead of joining the
    // doc-level keep verdict back to the corpus — label derivation at
    // 100 TB must never cost a corpus-sized shuffle.
    val carry = carryCols.map(col)
    val tk = col("tk")
    val g2 = col("g2")
    val nW = size(tk).cast("long")
    val nG2 = size(g2).cast("long")
    val dupG2 = (nG2 - size(array_distinct(g2)).cast("long"))
    corpus
      .select(col(idCol).as("doc_id") +: split(lower(col(textCol)), " ").as("tk") +: carry: _*)
      .select(col("doc_id") +: tk +:
        when(size(tk) >= 2, transform(sequence(lit(1), size(tk) - 1),
          i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1))))
          .otherwise(array().cast("array<string>")).as("g2") +: carry: _*)
      .select(
        col("doc_id") +:
        nW.as("n_words") +:
        Extensions.round4o(aggregate(tk, lit(0L), (a, t) => a + length(t)) / nW)
          .as("mean_word_len") +:
        Extensions.round4o(
          size(filter(tk, t => t === "the" || t === "a")).cast("long") / nW)
          .as("stop_ratio") +:
        when(nG2 > 0, Extensions.round4o(dupG2 / nG2)).otherwise(0.0).as("dup2_frac") +:
        carry: _*)
      .withColumn("r_wordcount", col("n_words") >= 50 && col("n_words") <= 100000L)
      .withColumn("r_wordlen", col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("r_stopword", col("stop_ratio") <= 0.25)
      .withColumn("r_repetition", col("dup2_frac") <= 0.2)
      .withColumn("keep",
        col("r_wordcount") && col("r_wordlen") && col("r_stopword") && col("r_repetition"))
  }

  /** x80: [[gopherRuleCard]] over the documents fixture. */
  def x80GopherRuleCard(s: SparkSession, dir: String): DataFrame =
    gopherRuleCard(docs(s, dir), "doc_id", "text")

  private val x80OracleSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      f AS (SELECT doc_id,
                   CAST(len(tk) AS BIGINT) AS n_words,
                   list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS sum_len,
                   len(list_filter(tk, x -> x IN ('the', 'a'))) AS n_stop,
                   CASE WHEN len(tk) >= 2
                        THEN list_transform(generate_series(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i+1])
                        ELSE [] END AS g2
            FROM d),
      r AS (SELECT doc_id, n_words,
                   round(sum_len * 10000.0 / n_words, 0) / 10000.0 AS mean_word_len,
                   round(n_stop * 10000.0 / n_words, 0) / 10000.0 AS stop_ratio,
                   CASE WHEN len(g2) > 0
                        THEN round((len(g2) - len(list_distinct(g2))) * 10000.0 / len(g2), 0) / 10000.0
                        ELSE 0.0 END AS dup2_frac
            FROM f)
      SELECT doc_id, n_words, mean_word_len, stop_ratio, dup2_frac,
             n_words >= 50 AND n_words <= 100000 AS r_wordcount,
             mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS r_wordlen,
             stop_ratio <= 0.25 AS r_stopword,
             dup2_frac <= 0.2 AS r_repetition,
             (n_words >= 50 AND n_words <= 100000)
               AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
               AND stop_ratio <= 0.25 AND dup2_frac <= 0.2 AS keep
      FROM r
      ORDER BY doc_id"""

  // ---- x81: packing-efficiency curve -----------------------------------------

  /** Packing efficiency across candidate context lengths: for each
    * budget L, how many packed sequences the x23 offset packing yields
    * and how full they run (fill = tokens / (chunks × L); straddling
    * docs can push a chunk past L, so fill hugs 1 from both sides).
    * The "which context length should this corpus train at" table.
    *
    * Scale: ONE per-shard cumulative-sum window (identical for every L —
    * chunk assignment is floor(cum_before / L) over the same running
    * sum), then a bounded explode over the budget list and two
    * hash-aggs. Adding budgets costs map-side rows, not extra windows.
    */
  def packingCurve(
      corpus: DataFrame, shardCol: String, idCol: String, textCol: String,
      budgets: Seq[Int]): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = corpus.select(col(idCol), col(shardCol).as("shard"),
        size(split(col(textCol), " ")).cast("long").as("n_tok"))
      .withColumn("cum_before", sum(col("n_tok")).over(w) - col("n_tok"))
    cum.select(col("shard"), col("n_tok"), col("cum_before"),
        explode(typedLit(budgets.map(_.toLong))).as("ctx"))
      .withColumn("chunk_id", floor(col("cum_before") / col("ctx")))
      .groupBy(col("ctx"), col("shard"), col("chunk_id"))
      .agg(sum(col("n_tok")).as("chunk_tokens"))
      .groupBy(col("ctx"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("chunk_tokens")).as("sum_tokens"))
      .withColumn("fill_frac",
        Extensions.round4o(col("sum_tokens") / (col("n_chunks") * col("ctx"))))
  }

  /** x81: [[packingCurve]] sharded by language over 128..1024 contexts. */
  def x81PackingCurve(s: SparkSession, dir: String): DataFrame =
    packingCurve(docs(s, dir), "lang", "doc_id", "text",
        budgets = Seq(128, 256, 512, 1024))

  private val x81OracleSql: String = """
      WITH d AS (SELECT doc_id, lang AS shard,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
                 FROM documents),
      c AS (SELECT *, sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) - n_tok AS cum_before
            FROM d),
      e AS (SELECT shard, n_tok, cum_before, CAST(ctx AS BIGINT) AS ctx
            FROM c, UNNEST([128, 256, 512, 1024]) AS t(ctx)),
      chunks AS (SELECT ctx, shard, CAST(floor(cum_before * 1.0 / ctx) AS BIGINT) AS chunk_id,
                        sum(n_tok) AS chunk_tokens
                 FROM e GROUP BY 1, 2, 3)
      SELECT ctx, count(*) AS n_chunks,
             CAST(sum(chunk_tokens) AS BIGINT) AS sum_tokens,
             round(sum(chunk_tokens) * 10000.0 / (count(*) * ctx), 0) / 10000.0 AS fill_frac
      FROM chunks
      GROUP BY ctx
      ORDER BY ctx"""

  val entries: Seq[Entry] = Seq(
    Entry("x79_waterfill_budget", x79WaterfillBudget _, x79OracleSql),
    Entry("x80_gopher_rule_card", x80GopherRuleCard _, x80OracleSql),
    Entry("x81_packing_curve", x81PackingCurve _, x81OracleSql))
}
