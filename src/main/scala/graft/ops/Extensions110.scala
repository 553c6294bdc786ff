package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** One-hundred-tenth extension batch — the two serving-layer verbs that
  * close the retrieval loop:
  *
  *  - RM3-style query expansion (x251): pseudo-relevance feedback — run
  *    the query, treat its top-k hits as relevant, and mine the terms
  *    that characterize them (relevance-model weight ≈ Σ_d tf(t,d)/dl(d)
  *    over the feedback docs, original query terms excluded). The
  *    expansion card is what a retrieval stack logs and re-queries
  *    with; recall recovers documents that share MEANING but not the
  *    original query's surface terms.
  *  - snippet extraction (x252): for each hit, the `w`-token window
  *    with the most DISTINCT query terms — the evidence line a search
  *    result shows. Candidate windows come only from positions where a
  *    query term actually matched (match-count × w candidates, never
  *    len × w), ties break earliest-window.
  *
  * Determinism discipline: expansion weights are integer micro-units
  * (tf·10⁶ DIV dl summed per term) ranked with term ties; the feedback
  * and hit sets ride x33's 4dp-rounded BM25 with id ties; snippet
  * argmax ties break on the earliest start.
  */
object Extensions110 {

  // ---- x251: RM3 query expansion --------------------------------------------------

  /** Per query: the top-`m` expansion terms mined from its `kFeedback`
    * BM25 hits. Weight(t) = Σ over feedback docs of tf(t,d)·10⁶ DIV dl(d)
    * (an integer length-normalized term mass); terms already in the
    * query are excluded. Output: (q_id, term, wexp, rk).
    *
    * Scale: one BM25 pass (inverted-index shaped, x33), then the
    * feedback set — O(queries × kFeedback) rows — broadcast-joins back
    * onto the (doc, term) index; the expansion agg is
    * O(queries × kFeedback × distinct terms per doc).
    */
  def queryExpansionTerms(
      corpus: DataFrame, queries: DataFrame, idCol: String, textCol: String,
      kFeedback: Int = 3, m: Int = 5): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    val fb = Extensions4.bm25TopK(corpus, queries, idCol, textCol, kFeedback)
      .select(col("q_id"), col("c_id"))
    val docTerms = corpus
      .select(col(idCol).as("c_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("term"))
      .groupBy(col("c_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val qTerms = queries
      .select(col(idCol).as("q_id"), explode(array_distinct(toks)).as("term"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("wexp").desc, col("term"))
    docTerms.join(broadcast(fb), Seq("c_id"))
      .join(qTerms, Seq("q_id", "term"), "left_anti")
      .select(col("q_id"), col("term"),
        ((col("tf") * lit(1000000L)) / col("dl")).cast("long").as("mass"))
      .groupBy(col("q_id"), col("term"))
      .agg(sum(col("mass")).as("wexp"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= m)
      .select(col("q_id"), col("term"), col("wexp"), col("rk").cast("long").as("rk"))
  }

  /** x251: expansion terms for the five fixture query docs. */
  def x251QueryExpansion(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    queryExpansionTerms(d, d.filter(col("doc_id") < 5), "doc_id", "text")
  }

  private val x251OracleSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      tf AS (SELECT doc_id AS c_id, len(tk) AS dl, u.term, count(*) AS tf
             FROM d, UNNEST(tk) AS u(term)
             GROUP BY 1, 2, 3),
      stats AS (SELECT count(*) AS n_docs, sum(len(tk)) AS sum_dl FROM d),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      qt AS (SELECT doc_id AS q_id, u.term
             FROM d, UNNEST(list_distinct(tk)) AS u(term)
             WHERE doc_id < 5),
      scored AS (
        SELECT qt.q_id, tf.c_id,
               round(sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                     * tf.tf * (1.2 + 1.0)
                     / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl * s.n_docs / s.sum_dl))), 4)
                 AS score
        FROM qt
        JOIN tf ON tf.term = qt.term AND tf.c_id <> qt.q_id
        JOIN df ON df.term = qt.term
        CROSS JOIN stats s
        GROUP BY 1, 2),
      fb AS (
        SELECT q_id, c_id FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id
                      ORDER BY score DESC, c_id) AS rk
          FROM scored) WHERE rk <= 3),
      mass AS (
        SELECT fb.q_id, tf.term,
               CAST(sum((CAST(tf.tf AS BIGINT) * 1000000) // tf.dl) AS BIGINT) AS wexp
        FROM fb JOIN tf ON tf.c_id = fb.c_id
        WHERE NOT EXISTS (SELECT 1 FROM qt
                          WHERE qt.q_id = fb.q_id AND qt.term = tf.term)
        GROUP BY 1, 2),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY wexp DESC, term) AS rk
        FROM mass)
      SELECT q_id, term, wexp, rk FROM ranked WHERE rk <= 5
      ORDER BY q_id, rk"""

  // ---- x252: snippet extraction ---------------------------------------------------

  /** Per (query, hit): the `w`-token window holding the most DISTINCT
    * query terms — (q_id, c_id, best_start, n_terms, snippet). Candidate
    * starts are derived ONLY from matched positions (each match at
    * position p supports starts p−w+1..p), so work tracks matches, not
    * document length; argmax ties break on the earliest start.
    */
  def snippets(
      corpus: DataFrame, hits: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, w: Int = 10): DataFrame = {
    require(w >= 1)
    val toks = split(lower(col(textCol)), " ")
    val qTerms = queries
      .select(col(idCol).as("q_id"), explode(array_distinct(toks)).as("term"))
    // prune the positional index to hit documents BEFORE exploding joins
    // against it — the hit set is O(queries·k), the corpus is not
    val positions = corpus
      .select(col(idCol).as("c_id"), toks.as("ctk"))
      .join(broadcast(hits.select(col("c_id")).distinct()), Seq("c_id"), "left_semi")
      .select(col("c_id"), posexplode(col("ctk")).as(Seq("pos", "term")))
    val matched = hits.select(col("q_id"), col("c_id"))
      .join(qTerms, Seq("q_id"))
      .join(positions, Seq("c_id", "term"))
    val win = Window.partitionBy(col("q_id"), col("c_id"))
      .orderBy(col("n_terms").desc, col("start"))
    val best = matched
      .select(col("q_id"), col("c_id"), col("term"),
        explode(sequence(greatest(col("pos") - (w - 1), lit(0)), col("pos")))
          .as("start"))
      .groupBy(col("q_id"), col("c_id"), col("start"))
      .agg(countDistinct(col("term")).as("n_terms"))
      .withColumn("rk", row_number().over(win))
      .filter(col("rk") === 1)
    best.join(corpus.select(col(idCol).as("c_id"), toks.as("ctk")), Seq("c_id"))
      .select(col("q_id"), col("c_id"), col("start").cast("long").as("best_start"),
        col("n_terms"),
        array_join(slice(col("ctk"), col("start") + 1, lit(w)), " ").as("snippet"))
  }

  /** x252: the evidence line for each fixture query's top BM25 hit. */
  def x252Snippets(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val q = d.filter(col("doc_id") < 5)
    val hits = Extensions4.bm25TopK(d, q, "doc_id", "text", k = 1)
      .select(col("q_id"), col("c_id"))
    snippets(d, hits, q, "doc_id", "text")
  }

  private val x252OracleSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      tf AS (SELECT doc_id AS c_id, len(tk) AS dl, u.term, count(*) AS tf
             FROM d, UNNEST(tk) AS u(term)
             GROUP BY 1, 2, 3),
      stats AS (SELECT count(*) AS n_docs, sum(len(tk)) AS sum_dl FROM d),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      qt AS (SELECT doc_id AS q_id, u.term
             FROM d, UNNEST(list_distinct(tk)) AS u(term)
             WHERE doc_id < 5),
      scored AS (
        SELECT qt.q_id, tf.c_id,
               round(sum(ln(1 + (s.n_docs - df.df + 0.5) / (df.df + 0.5))
                     * tf.tf * (1.2 + 1.0)
                     / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl * s.n_docs / s.sum_dl))), 4)
                 AS score
        FROM qt
        JOIN tf ON tf.term = qt.term AND tf.c_id <> qt.q_id
        JOIN df ON df.term = qt.term
        CROSS JOIN stats s
        GROUP BY 1, 2),
      hits AS (
        SELECT q_id, c_id FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id
                      ORDER BY score DESC, c_id) AS rk
          FROM scored) WHERE rk = 1),
      pos AS (SELECT doc_id AS c_id, g.i - 1 AS pos, tk[g.i] AS term
              FROM d, UNNEST(generate_series(1, len(tk))) AS g(i)),
      m AS (SELECT h.q_id, h.c_id, qt.term, pos.pos
            FROM hits h
            JOIN qt ON qt.q_id = h.q_id
            JOIN pos ON pos.c_id = h.c_id AND pos.term = qt.term),
      starts AS (
        SELECT q_id, c_id, term, g.s AS start
        FROM m, UNNEST(generate_series(greatest(pos - 9, 0), pos)) AS g(s)),
      agg AS (
        SELECT q_id, c_id, start, count(DISTINCT term) AS n_terms
        FROM starts GROUP BY 1, 2, 3),
      best AS (
        SELECT q_id, c_id, start, n_terms FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id, c_id
                      ORDER BY n_terms DESC, start) AS rk
          FROM agg) WHERE rk = 1)
      SELECT b.q_id, b.c_id, CAST(b.start AS BIGINT) AS best_start, b.n_terms,
             array_to_string(d.tk[b.start + 1 : b.start + 10], ' ') AS snippet
      FROM best b JOIN d ON d.doc_id = b.c_id
      ORDER BY b.q_id, b.c_id"""

  val entries: Seq[Entry] = Seq(
    Entry("x251_query_expansion", x251QueryExpansion _, x251OracleSql),
    Entry("x252_snippets", x252Snippets _, x252OracleSql))
}
