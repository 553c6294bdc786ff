package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Thirty-seventh extension batch — retrieval evaluation and survival
  * analysis:
  *
  *  - nDCG@k (x111): THE graded ranking metric (Järvelin & Kekäläinen
  *    2002) — position-discounted gain over graded relevance,
  *    normalized by the ideal ordering. Shipped as a pure EVAL operator
  *    (any ranking table vs any grade table); the fixture query grades
  *    the word-trigram Jaccard ranking against unigram-Jaccard
  *    relevance — "does fine-grained lexical retrieval satisfy
  *    coarse-grained relevance", the sketch-vs-truth shape every
  *    retrieval dashboard tracks.
  *  - Kaplan–Meier survival (x112): the product-limit estimator over
  *    right-censored user lifetimes (first event → last event,
  *    censored at the observation horizon). Retention expressed
  *    properly — x86's cohort triangle counts returns; this handles
  *    the censoring that makes naive retention curves lie.
  */
object Extensions37 {

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- x111: nDCG@k ----------------------------------------------------------

  /** nDCG@k over a ranking (q_id, c_id, rk ∈ 1..k) and graded relevance
    * (q_id, c_id, grade ∈ 0..gmax): per query,
    * DCG = Σ (2^grade − 1)/log2(rk + 1) over the ranking, IDCG = the
    * same sum with the query's grades sorted descending, nDCG =
    * DCG/IDCG (0 when IDCG = 0). All discounts use the explicit
    * ln(x)/ln(2) form so both engines evaluate the identical float
    * expression; outputs round 4dp.
    *
    * Scale: two windows over tables that are already ≤ queries·k rows —
    * the eval costs nothing next to the retrieval it scores.
    */
  def ndcgAtK(ranking: DataFrame, grades: DataFrame, k: Int): DataFrame = {
    def disc(pos: Column): Column = log(pos + lit(1.0d)) / log(lit(2.0d))
    val gain = pow(lit(2.0d), col("grade")) - lit(1.0d)
    val joined = ranking.filter(col("rk") <= k)
      .join(grades, Seq("q_id", "c_id"), "left_outer")
      .na.fill(0L, Seq("grade"))
    val dcg = joined.groupBy(col("q_id"))
      .agg(sum(gain / disc(col("rk"))).as("dcg_raw"))
    val wIdeal = Window.partitionBy(col("q_id"))
      .orderBy(col("grade").desc, col("c_id"))
    val idcg = joined
      .withColumn("irk", row_number().over(wIdeal))
      .groupBy(col("q_id"))
      .agg(sum(gain / disc(col("irk"))).as("idcg_raw"))
    dcg.join(idcg, Seq("q_id"))
      .select(col("q_id"),
        round(col("dcg_raw"), 4).as("dcg"),
        round(col("idcg_raw"), 4).as("idcg"),
        when(col("idcg_raw") > 0.0d, round(col("dcg_raw") / col("idcg_raw"), 4))
          .otherwise(lit(0.0d)).as("ndcg"))
  }

  /** Distinct lowercase word n-gram strings per doc (bound token array
    * before the HOF lambda — the PLANS.md discipline).
    */
  private[ops] def gramTable(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val tk = col("tk")
    docs.select(col(idCol).as("doc_id"), split(lower(col(textCol)), " ").as("tk"))
      .filter(size(tk) >= n)
      .select(col("doc_id"),
        explode(array_distinct(transform(sequence(lit(1), size(tk) - (n - 1)),
          i => concat_ws(" ", slice(tk, i, lit(n)))))).as("g"))
  }

  /** Jaccard top-k per query via the inverted-index join (queries'
    * grams ⋈ corpus grams — never corpus×corpus), similarity rounded
    * 4dp BEFORE ranking, ties to c_id.
    */
  private[ops] def jaccardRanking(
      docs: DataFrame, qMax: Long, n: Int, k: Int): DataFrame = {
    val grams = Extensions.materialized(gramTable(docs, "doc_id", "text", n))
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = grams.filter(col("doc_id") <= qMax)
      .select(col("doc_id").as("q_id"), col("g"))
      .join(grams.select(col("doc_id").as("c_id"), col("g")), Seq("g"))
      .filter(col("q_id") =!= col("c_id"))
      .groupBy(col("q_id"), col("c_id")).agg(count(lit(1)).as("inter"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("jac").desc, col("c_id"))
    inter
      .join(sizes.select(col("doc_id").as("q_id"), col("sz").as("qsz")), Seq("q_id"))
      .join(sizes.select(col("doc_id").as("c_id"), col("sz").as("csz")), Seq("c_id"))
      .select(col("q_id"), col("c_id"),
        round(col("inter") / (col("qsz") + col("csz") - col("inter")), 4).as("jac"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
  }

  /** x111: nDCG@10 of the trigram-Jaccard ranking against unigram-
    * Jaccard relevance grades (floor(4·jac) ∈ 0..4) for queries
    * doc_id ≤ 5.
    */
  def x111Ndcg(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val ranking = jaccardRanking(d, qMax = 5L, n = 3, k = 10)
      .select(col("q_id"), col("c_id"), col("rk"))
    val uni = jaccardLike(d, qMax = 5L)
    ndcgAtK(ranking, uni, k = 10)
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")

  /** Unigram-Jaccard grades for all (query ≤ qMax, candidate) pairs
    * with any token overlap — grade = floor(4·round(jac, 4)).
    */
  private[ops] def jaccardLike(d: DataFrame, qMax: Long): DataFrame = {
    val grams = Extensions.materialized(gramTable(d, "doc_id", "text", 1))
    val sizes = grams.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    grams.filter(col("doc_id") <= qMax)
      .select(col("doc_id").as("q_id"), col("g"))
      .join(grams.select(col("doc_id").as("c_id"), col("g")), Seq("g"))
      .filter(col("q_id") =!= col("c_id"))
      .groupBy(col("q_id"), col("c_id")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("q_id"), col("sz").as("qsz")), Seq("q_id"))
      .join(sizes.select(col("doc_id").as("c_id"), col("sz").as("csz")), Seq("c_id"))
      .select(col("q_id"), col("c_id"),
        floor(round(col("inter") / (col("qsz") + col("csz") - col("inter")), 4)
          * 4.0d).cast("long").as("grade"))
  }

  private val x111OracleSql: String = """
      WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      g3 AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS g
             FROM toks, UNNEST(generate_series(1, len(tk) - 2)) AS t(i)
             WHERE len(tk) >= 3),
      g1 AS (SELECT DISTINCT doc_id, u.g
             FROM toks, UNNEST(tk) AS u(g)),
      sz3 AS (SELECT doc_id, count(*) AS sz FROM g3 GROUP BY doc_id),
      sz1 AS (SELECT doc_id, count(*) AS sz FROM g1 GROUP BY doc_id),
      inter3 AS (SELECT a.doc_id AS q_id, b.doc_id AS c_id, count(*) AS inter
                 FROM g3 a JOIN g3 b ON a.g = b.g AND a.doc_id <= 5 AND a.doc_id <> b.doc_id
                 GROUP BY 1, 2),
      ranked AS (SELECT q_id, c_id, rk FROM (
          SELECT i.q_id, i.c_id,
                 row_number() OVER (PARTITION BY i.q_id
                   ORDER BY round(i.inter * 1.0 / (qs.sz + cs.sz - i.inter), 4) DESC, i.c_id) AS rk
          FROM inter3 i
          JOIN sz3 qs ON qs.doc_id = i.q_id
          JOIN sz3 cs ON cs.doc_id = i.c_id)
        WHERE rk <= 10),
      inter1 AS (SELECT a.doc_id AS q_id, b.doc_id AS c_id, count(*) AS inter
                 FROM g1 a JOIN g1 b ON a.g = b.g AND a.doc_id <= 5 AND a.doc_id <> b.doc_id
                 GROUP BY 1, 2),
      grades AS (SELECT i.q_id, i.c_id,
                        CAST(floor(round(i.inter * 1.0 / (qs.sz + cs.sz - i.inter), 4) * 4.0) AS BIGINT) AS grade
                 FROM inter1 i
                 JOIN sz1 qs ON qs.doc_id = i.q_id
                 JOIN sz1 cs ON cs.doc_id = i.c_id),
      joined AS (SELECT r.q_id, r.c_id, r.rk, coalesce(g.grade, 0) AS grade
                 FROM ranked r LEFT JOIN grades g ON g.q_id = r.q_id AND g.c_id = r.c_id),
      dcg AS (SELECT q_id,
                     sum((power(2.0, grade) - 1.0) / (ln(rk + 1.0) / ln(2.0))) AS dcg_raw
              FROM joined GROUP BY q_id),
      ideal AS (SELECT q_id, grade,
                       row_number() OVER (PARTITION BY q_id ORDER BY grade DESC, c_id) AS irk
                FROM joined),
      idcg AS (SELECT q_id,
                      sum((power(2.0, grade) - 1.0) / (ln(irk + 1.0) / ln(2.0))) AS idcg_raw
               FROM ideal GROUP BY q_id)
      SELECT d.q_id, round(d.dcg_raw, 4) AS dcg, round(i.idcg_raw, 4) AS idcg,
             CASE WHEN i.idcg_raw > 0.0 THEN round(d.dcg_raw / i.idcg_raw, 4)
                  ELSE 0.0 END AS ndcg
      FROM dcg d JOIN idcg i ON d.q_id = i.q_id
      ORDER BY d.q_id"""

  // ---- x112: Kaplan–Meier survival -------------------------------------------

  /** Product-limit survival over right-censored lifetimes: per subject,
    * T = days from first to last event, censored iff the last event
    * falls on the global horizon day. Per distinct T (ascending):
    * n_risk = subjects with lifetime ≥ T, n_deaths = uncensored ending
    * at T, and S(T) = Π_{t ≤ T} (1 − d_t/n_t) — computed in log space
    * (exp of a running sum of ln((n−d)/n)), with an explicit
    * reached-zero flag for the d = n boundary so neither engine ever
    * evaluates ln(0) (Spark's log(0) is NULL, DuckDB's is −Inf — the
    * one float function the two disagree on).
    *
    * Scale: one corpus scan → per-subject (T, censored) hash-agg; the
    * curve itself is windows over the ≤ distinct-lifetimes aggregate
    * (the x65 "window over aggregated rows only" discipline).
    */
  def kaplanMeier(
      events: DataFrame, subjectCol: String, tsCol: String): DataFrame = {
    val horizon = events.agg(max(to_date(col(tsCol)))).head().getDate(0)
    val perSubject = events
      .groupBy(col(subjectCol).as("subject"))
      .agg(min(to_date(col(tsCol))).as("first_d"), max(to_date(col(tsCol))).as("last_d"))
      .select(col("subject"),
        datediff(col("last_d"), col("first_d")).cast("long").as("t"),
        (col("last_d") === lit(horizon)).as("censored"))
    val total = perSubject.count()
    val byT = perSubject.groupBy(col("t")).agg(
      sum(when(!col("censored"), 1L).otherwise(0L)).as("d"),
      sum(when(col("censored"), 1L).otherwise(0L)).as("c"),
      count(lit(1)).as("ended"))
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    byT
      .withColumn("n_risk",
        lit(total) - coalesce(sum(col("ended")).over(wPrev), lit(0L)))
      .withColumn("term",
        when(col("d") < col("n_risk"),
          log((col("n_risk") - col("d")) / col("n_risk").cast("double")))
          .otherwise(lit(0.0d)))
      .withColumn("zeroed",
        max(when(col("d") === col("n_risk"), 1).otherwise(0)).over(wCum))
      .select(col("t").as("t_days"), col("n_risk"), col("d").as("n_deaths"),
        col("c").as("n_censored"),
        when(col("zeroed") === 1, lit(0.0d))
          .otherwise(round(exp(sum(col("term")).over(wCum)), 4)).as("survival"))
  }

  /** x112: [[kaplanMeier]] over user activity lifetimes in the events
    * fixture (horizon = the fixture's last day).
    */
  def x112Survival(s: SparkSession, dir: String): DataFrame =
    kaplanMeier(table(s, dir, "events"), "user_id", "ts")

  private val x112OracleSql: String = """
      WITH pu AS (
        SELECT user_id,
               date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS t,
               max(CAST(ts AS DATE)) = (SELECT max(CAST(ts AS DATE)) FROM events) AS censored
        FROM events GROUP BY user_id),
      tot AS (SELECT count(*) AS n FROM pu),
      byt AS (SELECT t,
                     CAST(sum(CASE WHEN NOT censored THEN 1 ELSE 0 END) AS BIGINT) AS d,
                     CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS c,
                     count(*) AS ended
              FROM pu GROUP BY t),
      risk AS (SELECT t, d, c,
                      CAST(tot.n - coalesce(sum(ended) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
               FROM byt, tot),
      terms AS (SELECT t, d, c, n_risk,
                       CASE WHEN d < n_risk THEN ln((n_risk - d) / CAST(n_risk AS DOUBLE))
                            ELSE 0.0 END AS term,
                       CASE WHEN d = n_risk THEN 1 ELSE 0 END AS z
                FROM risk)
      SELECT t AS t_days, n_risk, d AS n_deaths, c AS n_censored,
             CASE WHEN max(z) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                  THEN 0.0
                  ELSE round(exp(sum(term) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 4) END AS survival
      FROM terms
      ORDER BY t_days"""

  val entries: Seq[Entry] = Seq(
    Entry("x111_ndcg", x111Ndcg _, x111OracleSql),
    Entry("x112_survival", x112Survival _, x112OracleSql))
}
