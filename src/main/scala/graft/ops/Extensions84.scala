package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Eighty-fourth extension batch — the corpus on one page:
  *
  *  - corpus one-pager (x200): the KPI rows a corpus review opens
  *    with — size, token mass, Gopher keep rate, exact-dup rate,
  *    Good–Turing unseen mass, type-token ratio — each the headline
  *    number of an operator family this engine already ships
  *    (x80, x01, x148, x65), recomputed in TWO corpus passes and
  *    emitted as a (metric, value) table.
  *
  * Determinism discipline: every numerator/denominator is an exact
  * long; each KPI renders by one sign-free half-away division.
  */
object Extensions84 {

  /** One (metric, value) row per corpus KPI,:
    * n_docs, n_tokens, mean_doc_tokens, gopher_keep_rate,
    * exact_dup_rate, unseen_mass, type_token_ratio (counts rendered
    * as exact doubles; rates 4dp).
    *
    * Scale: pass 1 = the Gopher card (map-side booleans) + digest,
    * reduced to one row; pass 2 = the token explode reduced to
    * (total, vocab, singletons). Seven rows from two wide results —
    * adding KPIs adds expressions, not scans.
    */
  def corpusOnePager(
      corpus: DataFrame, idCol: String, textCol: String): DataFrame = {
    val carded = Extensions20.gopherRuleCard(corpus, idCol, textCol,
      carryCols = Seq(textCol))
    val docWide = Extensions.materialized(carded
      .select(
        size(filter(split(lower(col(textCol)), " "), t => length(t) > 0))
          .cast("long").as("n_tok"),
        md5(col(textCol)).as("digest"),
        when(col("keep"), 1L).otherwise(0L).as("kp"))
      .agg(count(lit(1)).as("nd"), sum(col("n_tok")).as("nt"),
        count_distinct(col("digest")).as("nu"), sum(col("kp")).as("nk")))
    val tokWide = Extensions.materialized(corpus
      .select(explode(filter(split(lower(col(textCol)), " "),
        t => length(t) > 0)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("tt"), count(lit(1)).as("vv"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1")))
    val j = docWide.crossJoin(tokWide)
    def row(name: String, value: org.apache.spark.sql.Column) =
      j.select(lit(name).as("metric"), value.cast("double").as("value"))
    row("exact_dup_rate",
      expr("(((nd - nu) * 10000 * 2 + nd) DIV (2 * nd)) / 10000.0D"))
      .unionAll(row("gopher_keep_rate",
        expr("((nk * 10000 * 2 + nd) DIV (2 * nd)) / 10000.0D")))
      .unionAll(row("mean_doc_tokens",
        expr("((nt * 10000 * 2 + nd) DIV (2 * nd)) / 10000.0D")))
      .unionAll(row("n_docs", col("nd")))
      .unionAll(row("n_tokens", col("nt")))
      .unionAll(row("type_token_ratio",
        expr("((vv * 10000 * 2 + tt) DIV (2 * tt)) / 10000.0D")))
      .unionAll(row("unseen_mass",
        expr("((n1 * 10000 * 2 + tt) DIV (2 * tt)) / 10000.0D")))
  }

  /** x200: the documents fixture, on one page. */
  def x200OnePager(s: SparkSession, dir: String): DataFrame =
    corpusOnePager(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x200OracleSql: String = """
      WITH d AS (SELECT doc_id, text, string_split(lower(text), ' ') AS tk FROM documents),
      f AS (SELECT doc_id, text,
                   CAST(len(tk) AS BIGINT) AS n_words,
                   CAST(len(list_filter(tk, t -> length(t) > 0)) AS BIGINT) AS n_tok,
                   list_aggregate(list_transform(tk, x -> length(x)), 'sum') AS sum_len,
                   len(list_filter(tk, x -> x IN ('the', 'a'))) AS n_stop,
                   CASE WHEN len(tk) >= 2
                        THEN list_transform(generate_series(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i+1])
                        ELSE [] END AS g2
            FROM d),
      r AS (SELECT text, n_tok, n_words,
                   round(sum_len * 10000.0 / n_words, 0) / 10000.0 AS mean_word_len,
                   round(n_stop * 10000.0 / n_words, 0) / 10000.0 AS stop_ratio,
                   CASE WHEN len(g2) > 0
                        THEN round((len(g2) - len(list_distinct(g2))) * 10000.0 / len(g2), 0) / 10000.0
                        ELSE 0.0 END AS dup2_frac
            FROM f),
      lab AS (SELECT n_tok, md5(text) AS digest,
                CASE WHEN (n_words >= 50 AND n_words <= 100000)
                      AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
                      AND stop_ratio <= 0.25 AND dup2_frac <= 0.2
                     THEN 1 ELSE 0 END AS kp
              FROM r),
      dw AS (SELECT count(*) AS nd, CAST(sum(n_tok) AS BIGINT) AS nt,
               count(DISTINCT digest) AS nu, CAST(sum(kp) AS BIGINT) AS nk
             FROM lab),
      tk AS (SELECT u.w, count(*) AS c
             FROM d, UNNEST(d.tk) AS u(w) WHERE length(u.w) > 0
             GROUP BY u.w),
      tw AS (SELECT CAST(sum(c) AS BIGINT) AS tt, count(*) AS vv,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
             FROM tk),
      j AS (SELECT * FROM dw, tw)
      SELECT 'exact_dup_rate' AS metric,
             CAST((((nd - nu) * 10000 * 2 + nd) // (2 * nd)) / 10000.0 AS DOUBLE) AS value FROM j
      UNION ALL SELECT 'gopher_keep_rate',
             ((nk * 10000 * 2 + nd) // (2 * nd)) / 10000.0 FROM j
      UNION ALL SELECT 'mean_doc_tokens',
             ((nt * 10000 * 2 + nd) // (2 * nd)) / 10000.0 FROM j
      UNION ALL SELECT 'n_docs', CAST(nd AS DOUBLE) FROM j
      UNION ALL SELECT 'n_tokens', CAST(nt AS DOUBLE) FROM j
      UNION ALL SELECT 'type_token_ratio',
             ((vv * 10000 * 2 + tt) // (2 * tt)) / 10000.0 FROM j
      UNION ALL SELECT 'unseen_mass',
             ((n1 * 10000 * 2 + tt) // (2 * tt)) / 10000.0 FROM j
      ORDER BY metric"""

  val entries: Seq[Entry] = Seq(
    Entry("x200_corpus_one_pager", x200OnePager _, x200OracleSql))
}
