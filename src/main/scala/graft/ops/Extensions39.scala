package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Thirty-ninth extension batch — lexical statistics and rater
  * agreement:
  *
  *  - PMI collocations (x114): top pointwise-mutual-information word
  *    bigrams (Church & Hanks 1990) — the collocation extractor behind
  *    tokenizer-vocabulary curation and phrase mining. Computed in
  *    ln-sum form (no integer product of corpus-scale counts can
  *    overflow), rounded BEFORE ranking.
  *  - Cohen's kappa (x115): chance-corrected agreement between two
  *    keep/drop raters (Cohen 1960). The question every labeling
  *    pipeline must answer before trusting its labels — here measured
  *    between the two quality raters the engine already ships (the
  *    hash-weight linear scorer x38 and the Gopher rule card x80):
  *    how much of their agreement is beyond chance?
  */
object Extensions39 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- x114: PMI collocations ------------------------------------------------

  /** Top-k PMI bigrams with support ≥ minCount:
    * PMI = ln(p(ab) / (p(a)·p(b))) with p(ab) = c_ab/P over adjacent
    * pairs and p(a) = c_a/T over tokens, evaluated as
    * ln(c_ab) + 2·ln(T) − ln(P) − ln(c_a) − ln(c_b) (ln-sum form —
    * corpus-scale counts never multiply) and rounded 4dp BEFORE the
    * (pmi desc, l, r) ranking.
    *
    * Scale: one corpus scan feeding two hash-aggs (unigram + bigram
    * counts); totals are 1-row broadcasts; the ranking is a TakeOrdered
    * over the support-filtered bigram table — no window over anything
    * corpus-sized.
    */
  def pmiBigrams(
      corpus: DataFrame, textCol: String, k: Int = 20,
      minCount: Long = 5L): DataFrame = {
    val ct = col("ct")
    val toks = Extensions.materialized(
      corpus.select(
        filter(split(lower(col(textCol)), " "), t => length(t) > 0).as("ct")))
    val uni = toks.select(explode(ct).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val pairs = toks.filter(size(ct) >= 2)
      .select(explode(transform(sequence(lit(1), size(ct) - 1),
        j => struct(element_at(ct, j).as("l"), element_at(ct, j + 1).as("r"))))
        .as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(count(lit(1)).as("c_ab"))
    val totals = uni.agg(sum(col("c")).as("T"))
      .crossJoin(pairs.agg(sum(col("c_ab")).as("P")))
    val pmi = round(
      log(col("c_ab")) + lit(2.0d) * log(col("T")) - log(col("P"))
        - log(col("ca")) - log(col("cb")), 4)
    pairs.filter(col("c_ab") >= minCount)
      .join(uni.select(col("w").as("l"), col("c").as("ca")), Seq("l"))
      .join(uni.select(col("w").as("r"), col("c").as("cb")), Seq("r"))
      .crossJoin(broadcast(totals))
      .select(col("l"), col("r"), col("c_ab"), pmi.as("pmi"))
      .orderBy(col("pmi").desc, col("l"), col("r"))
      .limit(k)
  }

  /** x114: top-20 PMI bigrams (support ≥ 5) of the documents fixture. */
  def x114PmiBigrams(s: SparkSession, dir: String): DataFrame =
    pmiBigrams(docs(s, dir), "text")

  private val x114OracleSql: String = """
      WITH toks AS (SELECT list_filter(string_split(lower(text), ' '), t -> t <> '') AS ct
                    FROM documents),
      uni AS (SELECT u.w, count(*) AS c
              FROM toks, UNNEST(ct) AS u(w) GROUP BY u.w),
      pairs AS (SELECT ct[j] AS l, ct[j + 1] AS r, count(*) AS c_ab
                FROM toks, UNNEST(generate_series(1, len(ct) - 1)) AS t(j)
                WHERE len(ct) >= 2
                GROUP BY 1, 2),
      tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS T,
                     (SELECT CAST(sum(c_ab) AS BIGINT) FROM pairs) AS P)
      SELECT p.l, p.r, p.c_ab,
             round(ln(p.c_ab) + 2.0 * ln(tot.T) - ln(tot.P) - ln(a.c) - ln(b.c), 4) AS pmi
      FROM pairs p
      JOIN uni a ON a.w = p.l
      JOIN uni b ON b.w = p.r
      CROSS JOIN tot
      WHERE p.c_ab >= 5
      ORDER BY pmi DESC, p.l, p.r
      LIMIT 20"""

  // ---- x115: Cohen's kappa rater agreement -----------------------------------

  /** Cohen's kappa between two boolean raters joined on `idCol`:
    * κ = (p_o − p_e)/(1 − p_e) with p_o the observed agreement and p_e
    * the chance agreement from the raters' marginals. The confusion
    * matrix is ONE hash-agg of exact integer indicator sums; the float
    * math runs on that single row (4dp product-form rounds).
    */
  def raterAgreement(
      a: DataFrame, b: DataFrame, idCol: String,
      aKeepCol: String, bKeepCol: String): DataFrame = {
    val j = a.select(col(idCol).as("id"), col(aKeepCol).cast("long").as("ka"))
      .join(b.select(col(idCol).as("id"), col(bKeepCol).cast("long").as("kb")),
        Seq("id"))
    val m = j.agg(
      count(lit(1)).as("n"),
      sum(col("ka") * col("kb")).as("n_both_keep"),
      sum((lit(1L) - col("ka")) * (lit(1L) - col("kb"))).as("n_both_drop"),
      sum(col("ka") * (lit(1L) - col("kb"))).as("n_only_a"),
      sum((lit(1L) - col("ka")) * col("kb")).as("n_only_b"))
    val po = (col("n_both_keep") + col("n_both_drop")).cast("double") / col("n")
    val peNum = (col("n_both_keep") + col("n_only_a")).cast("double") *
      (col("n_both_keep") + col("n_only_b")) +
      (col("n_both_drop") + col("n_only_b")).cast("double") *
      (col("n_both_drop") + col("n_only_a"))
    val pe = peNum / (col("n").cast("double") * col("n"))
    m.select(col("n"), col("n_both_keep"), col("n_both_drop"),
      col("n_only_a"), col("n_only_b"),
      round(po, 4).as("p_observed"),
      round(pe, 4).as("p_chance"),
      round((po - pe) / (lit(1.0d) - pe), 4).as("kappa"))
  }

  /** x115: kappa between the hash-weight linear scorer (x38 keep) and
    * the Gopher rule card (x80 keep) over the documents fixture — do
    * the engine's two cheap quality raters agree beyond chance?
    */
  def x115RaterKappa(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val ra = Extensions5.hashedLinearScore(d, "doc_id", "text")
      .select(col("doc_id"), col("keep"))
    val rb = Extensions20.gopherRuleCard(d, "doc_id", "text")
      .select(col("doc_id"), col("keep"))
    raterAgreement(ra, rb, "doc_id", "keep", "keep")
  }

  /** Oracle: rater A replays the x38 oracle (embedded as a CTE), rater
    * B replays the Gopher keep (the x94 label fragment), then the
    * one-row confusion/kappa arithmetic.
    */
  private def x115OracleSql: String = s"""
      WITH ra AS (${Extensions5.x38QualityClassifierSql}),
      d2 AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      f0 AS (SELECT doc_id,
                CAST(len(tk) AS BIGINT) AS n_words,
                list_aggregate(list_transform(tk, t -> length(t)), 'sum') AS sum_len,
                len(list_filter(tk, t -> t IN ('the', 'a'))) AS n_stop,
                CASE WHEN len(tk) >= 2
                     THEN list_transform(generate_series(1, len(tk) - 1),
                            i -> tk[i] || ' ' || tk[i+1])
                     ELSE [] END AS g2
             FROM d2),
      rb AS (SELECT doc_id,
                CASE WHEN n_words BETWEEN 50 AND 100000
                      AND round(sum_len * 10000.0 / n_words, 0) / 10000.0 BETWEEN 3.0 AND 10.0
                      AND round(n_stop * 10000.0 / n_words, 0) / 10000.0 <= 0.25
                      AND (CASE WHEN len(g2) > 0
                                THEN round((len(g2) - len(list_distinct(g2))) * 10000.0 / len(g2), 0) / 10000.0
                                ELSE 0.0 END) <= 0.2
                     THEN 1 ELSE 0 END AS kb
             FROM f0),
      m AS (SELECT count(*) AS n,
                   CAST(sum(CASE WHEN ra.keep AND rb.kb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_both_keep,
                   CAST(sum(CASE WHEN NOT ra.keep AND rb.kb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_both_drop,
                   CAST(sum(CASE WHEN ra.keep AND rb.kb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
                   CAST(sum(CASE WHEN NOT ra.keep AND rb.kb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b
            FROM ra JOIN rb USING (doc_id))
      SELECT n, n_both_keep, n_both_drop, n_only_a, n_only_b,
             round(CAST(n_both_keep + n_both_drop AS DOUBLE) / n, 4) AS p_observed,
             round((CAST(n_both_keep + n_only_a AS DOUBLE) * (n_both_keep + n_only_b)
                    + CAST(n_both_drop + n_only_b AS DOUBLE) * (n_both_drop + n_only_a))
                   / (CAST(n AS DOUBLE) * n), 4) AS p_chance,
             round((CAST(n_both_keep + n_both_drop AS DOUBLE) / n
                    - (CAST(n_both_keep + n_only_a AS DOUBLE) * (n_both_keep + n_only_b)
                       + CAST(n_both_drop + n_only_b AS DOUBLE) * (n_both_drop + n_only_a))
                      / (CAST(n AS DOUBLE) * n))
                   / (1.0 - (CAST(n_both_keep + n_only_a AS DOUBLE) * (n_both_keep + n_only_b)
                             + CAST(n_both_drop + n_only_b AS DOUBLE) * (n_both_drop + n_only_a))
                            / (CAST(n AS DOUBLE) * n)), 4) AS kappa
      FROM m"""

  val entries: Seq[Entry] = Seq(
    Entry("x114_pmi_bigrams", x114PmiBigrams _, x114OracleSql),
    Entry("x115_rater_kappa", x115RaterKappa _, x115OracleSql))
}
