package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Ninth extension batch — corpus-composition analytics: language-
  * agnostic stopword inference + per-doc stopword ratio (the CCNet-style
  * quality feature that needs no hand-written stopword list), per-source
  * language-entropy composition report (mixture diversity audit), and
  * within-source quantile normalization of quality scores (making a
  * score comparable across heterogeneous domains before a global
  * threshold).
  */
object Extensions9 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- inferred stopwords + stopword ratio -----------------------------------

  /** Corpus-inferred stopword ratio: the `topK` tokens by DOCUMENT
    * frequency become the stopword list (that's what stopwords are — the
    * tokens nearly every document contains), and each document is scored
    * by the fraction of its token OCCURRENCES on that list. Low-ratio
    * documents are id dumps / tables / code; implausibly high ratios are
    * boilerplate. This is the language-agnostic form of the classic
    * stopword-ratio quality gate — no hand-curated list, works on any
    * corpus in any language.
    *
    * Scale: the (doc, token) occurrence index materializes ONCE and feeds
    * both phases (df agg and the scoring join — one tokenize pass). The
    * stopword list is O(topK) and broadcasts; the scoring side is a
    * broadcast left-semi-shaped join + one grouped count. DF ties at the
    * list boundary break lexicographically, so the list is deterministic.
    */
  def stopwordRatio(
      corpus: DataFrame, idCol: String, textCol: String,
      topK: Int = 20): DataFrame = {
    // explode_outer + count(tok): a null-text doc stays in the report
    // (n_tokens = 0, ratio null) instead of silently vanishing — a
    // per-doc report must be total over its input
    val occ = Extensions.materialized(
      corpus.select(col(idCol).as("doc_id"),
        explode_outer(split(lower(col(textCol)), " ")).as("tok")))
    val stop = occ.filter(col("tok").isNotNull)
      .select(col("doc_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(topK)
      .select(col("tok"), lit(1L).as("is_stop"))
    occ.join(broadcast(stop), Seq("tok"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("tok")).as("n_tokens"),
        coalesce(sum(col("is_stop")), lit(0L)).as("n_stop"))
      .select(col("doc_id"), col("n_tokens"), col("n_stop"),
        when(col("n_tokens") > 0,
          Extensions.round4o(col("n_stop") / col("n_tokens"))).as("stop_ratio"))
  }

  /** x54: [[stopwordRatio]] over the documents fixture, top-20 list. */
  def x54StopwordRatio(s: SparkSession, dir: String): DataFrame =
    stopwordRatio(docs(s, dir), "doc_id", "text")

  // ---- per-source language entropy -------------------------------------------

  /** Source-composition report: per source, the document count, number of
    * distinct languages, the majority language (ties break
    * lexicographically), its share, and the Shannon entropy (nats) of the
    * language distribution — the mixture-diversity audit that catches a
    * "multilingual" source that is 98% one language, or a single-language
    * crawl polluted by mislabeled docs.
    *
    * Scale: two stacked hash-aggs — (source, lang) counts, then O(sources·
    * langs) rows fold into one row per source. Nothing touches raw text.
    */
  def sourceLangEntropy(
      corpus: DataFrame, sourceCol: String, langCol: String): DataFrame = {
    val counts = corpus.groupBy(col(sourceCol), col(langCol))
      .agg(count(lit(1)).as("n"))
    counts.groupBy(col(sourceCol))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_langs"),
        min_by(col(langCol), struct((-col("n")).as("nn"), col(langCol)))
          .as("top_lang"),
        max(col("n")).as("top_n"),
        sum(col("n") * log(col("n"))).as("snln"))
      // H = -Σ (c/N) ln(c/N) = ln N − (Σ c·ln c)/N : one pass, exact
      // integer counts, a single float combination at the end
      .select(col(sourceCol), col("n_docs"), col("n_langs"), col("top_lang"),
        Extensions.round4o(col("top_n") / col("n_docs")).as("top_share"),
        round(log(col("n_docs")) - col("snln") / col("n_docs"), 4)
          .as("lang_entropy"))
  }

  /** x55: [[sourceLangEntropy]] over the documents fixture. */
  def x55SourceLangEntropy(s: SparkSession, dir: String): DataFrame =
    sourceLangEntropy(docs(s, dir), "source", "lang")

  // ---- within-source quantile normalization ----------------------------------

  /** Within-group quantile normalization of a score: percent_rank of
    * `valCol` inside each group (total order via the id tie-break, so the
    * rank is deterministic) — the transform that makes a quality score
    * comparable ACROSS sources before applying one global keep threshold
    * (a 0.7 raw score means different things on arxiv vs a web crawl;
    * "top 30% of its source" means the same thing everywhere).
    *
    * Scale: per-GROUP window sort — groups are the parallelism unit,
    * exactly the x47/x25 shape; no global ordering anywhere.
    */
  def quantileNormalize(
      df: DataFrame, groupCol: String, idCol: String, valCol: String): DataFrame =
    df.withColumn("q_norm",
      Extensions.round4o(percent_rank().over(
        Window.partitionBy(col(groupCol))
          .orderBy(col(valCol), col(idCol)))))

  /** x56: [[quantileNormalize]] of the x38 quality score within each
    * source — the cross-domain-comparable quality signal.
    */
  def x56QuantileNormalize(s: SparkSession, dir: String): DataFrame = {
    val scored = Extensions5.hashedLinearScore(docs(s, dir), "doc_id", "text")
      .join(docs(s, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
    quantileNormalize(scored, "source", "doc_id", "score")
      .select(col("doc_id"), col("source"), col("score"), col("q_norm"))
  }

  val entries: Seq[Entry] = Seq(
    Entry("x54_stopword_ratio", x54StopwordRatio _, """
      WITH occ AS (SELECT doc_id, u.tok
                   FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
                        UNNEST(tk) AS u(tok)),
      stop AS (SELECT tok FROM (SELECT tok, count(DISTINCT doc_id) AS df FROM occ GROUP BY 1)
               ORDER BY df DESC, tok LIMIT 20)
      SELECT occ.doc_id, count(*) AS n_tokens,
             CAST(coalesce(sum(CASE WHEN stop.tok IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_stop,
             round(coalesce(sum(CASE WHEN stop.tok IS NOT NULL THEN 1 END), 0) * 1.0
                   / count(*), 4) AS stop_ratio
      FROM occ LEFT JOIN stop ON occ.tok = stop.tok
      GROUP BY 1 ORDER BY 1"""),
    Entry("x55_source_lang_entropy", x55SourceLangEntropy _, """
      WITH c AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
      r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY n DESC, lang) AS rk
            FROM c)
      SELECT c.source, CAST(sum(c.n) AS BIGINT) AS n_docs,
             count(*) AS n_langs,
             max(CASE WHEN r.rk = 1 THEN r.lang END) AS top_lang,
             round(max(CASE WHEN r.rk = 1 THEN r.n END) * 1.0 / sum(c.n), 4) AS top_share,
             round(ln(sum(c.n)) - sum(c.n * ln(c.n)) / sum(c.n), 4) AS lang_entropy
      FROM c JOIN r ON c.source = r.source AND c.lang = r.lang
      GROUP BY 1 ORDER BY 1"""),
    Entry("x56_quantile_normalize", x56QuantileNormalize _, """
      WITH d AS (SELECT doc_id, source, string_split(lower(text), ' ') AS tk FROM documents),
      t AS (SELECT doc_id, len(tk) AS n_tokens, u.tok FROM d, UNNEST(tk) AS u(tok)),
      s AS (SELECT doc_id, max(n_tokens) AS n_tokens,
                   sum(('0x' || substr(md5(tok), 1, 15))::BIGINT % 2001 - 1000) AS si
            FROM t GROUP BY doc_id),
      sc AS (SELECT d.doc_id, d.source,
                    sign(si) * ((abs(si * 10) * 2 + s.n_tokens) // (s.n_tokens * 2)) / 10000.0 AS score
             FROM s JOIN (SELECT DISTINCT doc_id, source FROM documents) d USING (doc_id))
      SELECT doc_id, source, score,
             round(percent_rank() OVER (
               PARTITION BY source ORDER BY score, doc_id), 4) AS q_norm
      FROM sc ORDER BY doc_id"""))
}
