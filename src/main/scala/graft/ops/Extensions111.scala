package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** One-hundred-eleventh extension batch — the retrieval stack's missing
  * thirds:
  *
  *  - prefix-filtered exact set-similarity join (x253): the AllPairs /
  *    PPJoin principle (Bayardo et al. 2007, Xiao et al. 2008). The
  *    existing exact chain (x02) indexes EVERY token; MinHash (x03)
  *    buys a smaller index by going approximate. Prefix filtering is
  *    the third point: still EXACT, but each document indexes only its
  *    `sz − ceil(t·sz) + 1` globally-rarest tokens — any pair with
  *    Jaccard ≥ t provably shares one of them (overlap i ≥ ceil(t·sz)
  *    on both sides; if the prefixes were disjoint every common token
  *    would sit past one prefix's last element and before it at once).
  *    At t=0.5 half the index rows vanish before the pair join ever
  *    runs, and the hot-token tail (stopwords are the most frequent ⇒
  *    never in a prefix) disappears from the join key distribution.
  *  - Dirichlet-smoothed query likelihood (x254): the language-model
  *    retrieval family (Zhai & Lafferty 2001) next to BM25 (x33) —
  *    score = Σ_t ln((tf + µ·cf_t/T)/(dl + µ)), decomposed into a
  *    matched-term sum + per-query constant + dl penalty so only
  *    candidate docs (≥1 shared term) are ever scored.
  * (Reciprocal-rank fusion was drafted here and REMOVED as a duplicate:
  * `Extensions12.rrfFuse` / x62_hybrid_rrf already ships it, with the
  * richer lexical+semantic fixture.)
  *
  * Determinism: x253 thresholds on the integer cross-multiplication
  * `shared·tDen ≥ tNum·(na+nb−shared)` (never the rounded float, so the
  * lossless-filter proof and the emitted rows agree exactly); x254
  * follows the x33 discipline (round 4dp before ranking, candidate-id
  * ties).
  */
object Extensions111 {

  // ---- x253: prefix-filtered exact Jaccard join ----------------------------------

  /** All pairs with shingle-set Jaccard ≥ tNum/tDen, found via prefix
    * filtering: set elements are the doc's distinct word `shingleSize`-
    * grams (1 = plain word sets; short docs collapse to one whole-text
    * shingle, the x02 convention), ordered by (global df asc, term asc)
    * — rarest first — and each doc enters the candidate join only
    * through its first `sz − ceil(t·sz) + 1` elements. Verification
    * computes the exact intersection from the two full sets per
    * CANDIDATE pair. Output: (doc_a, doc_b, shared, na, nb, jacc),
    * doc_a < doc_b.
    *
    * Scale shape: the global order needs no global rank — each doc's
    * prefix comes from a doc-partitioned window over (df, term); the
    * pair join touches only prefix rows (half the index at t=0.5, and
    * structurally skew-free: high-df boilerplate shingles are exactly
    * the ones prefix filtering drops, so the hot-key tail never reaches
    * the join); the verify is O(candidates · doc length) via
    * array_intersect on the two shingle arrays, never a second index
    * self-join.
    */
  def prefixFilterJaccardPairs(
      corpus: DataFrame, idCol: String, textCol: String,
      tNum: Long, tDen: Long, shingleSize: Int = 1): DataFrame = {
    require(tNum >= 1 && tDen >= tNum, "threshold must be in (0, 1]")
    // materialized: the set table feeds the prefix index AND both sides
    // of the verify join — without the checkpoint the corpus tokenizes
    // three times (the x215 double-execution lesson; measured ~1.9x on
    // the sf0.1 fixture)
    val sets = Extensions.materialized(
      tokenSets(corpus, idCol, textCol, shingleSize))
    prefixCandidates(sets, tNum, tDen)
      .join(sets.select(col("doc_id").as("doc_a"), col("tk").as("tka"),
        col("sz").as("na")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("tk").as("tkb"),
        col("sz").as("nb")), Seq("doc_b"))
      .withColumn("shared", size(array_intersect(col("tka"), col("tkb"))).cast("long"))
      .filter(col("shared") * lit(tDen) >=
        lit(tNum) * (col("na") + col("nb") - col("shared")))
      .select(col("doc_a"), col("doc_b"), col("shared"), col("na"), col("nb"),
        round(col("shared") / (col("na") + col("nb") - col("shared")), 4).as("jacc"))
  }

  /** (doc_id, tk, sz): each doc's distinct shingle set as an array. */
  private[graft] def tokenSets(
      corpus: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame = {
    val words = split(lower(col(textCol)), " ")
    val toks =
      if (shingleSize <= 1) array_distinct(words)
      else array_distinct(transform(
        sequence(lit(1), greatest(size(words) - (shingleSize - 1), lit(1))),
        i => concat_ws(" ", slice(words, i, lit(shingleSize)))))
    corpus.select(col(idCol).as("doc_id"), toks.as("tk"),
      size(toks).cast("long").as("sz"))
  }

  /** Candidate (doc_a, doc_b) pairs from the prefix-pruned index — every
    * true pair at threshold tNum/tDen is in here (the lossless-filter
    * lemma); exposed separately so the spec can measure the pruning.
    */
  private[graft] def prefixCandidates(
      sets: DataFrame, tNum: Long, tDen: Long): DataFrame =
    prefixCandidatesFromPostings(prefixPostings(sets, tNum, tDen))

  /** Same pair join over an already-built postings table — so a caller
    * sweeping several seeding policies over ONE postings build (the
    * r15 charGramCapCard) doesn't recompute the prefix index per policy.
    */
  private[graft] def prefixCandidatesFromPostings(
      postings: DataFrame): DataFrame = {
    val prefix = postings.select(col("doc_id"), col("term"))
    prefix.as("a")
      .join(prefix.as("b"), col("a.term") === col("b.term")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The prefix index rows themselves — (doc_id, term, sz), each doc's
    * `sz − ceil(t·sz) + 1` globally-rarest terms — exposed so callers
    * can post-process the posting lists before the pair join (the
    * x232 capped-seeding path caps each term's list; the lossless
    * [[prefixCandidates]] joins them whole).
    */
  private[graft] def prefixPostings(
      sets: DataFrame, tNum: Long, tDen: Long): DataFrame = {
    val tok = sets.select(col("doc_id"), col("sz"), explode(col("tk")).as("term"))
    val docFreq = tok.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // o = ceil(t·sz) in exact integers; prefix keeps positions ≤ sz−o+1
    val o = (lit(tNum) * col("sz") + lit(tDen) - 1) / lit(tDen)
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("term"))
    tok.join(docFreq, Seq("term"))
      .withColumn("pos", row_number().over(wDoc))
      .filter(col("pos") <= col("sz") - o.cast("long") + 1)
      .select(col("doc_id"), col("term"), col("sz"))
  }

  /** x253: 5-gram shingle near-dup pairs at t = 1/2 on the documents
    * fixture (the x02 set semantics) — hash-identical to the full-index
    * exact join, reached through the pruned prefix index.
    */
  def x253PrefixFilterPairs(s: SparkSession, dir: String): DataFrame =
    prefixFilterJaccardPairs(Tables.load(s, dir, "documents"), "doc_id", "text",
        1L, 2L, shingleSize = 5)

  /** The oracle replays the FULL inverted-index pair join (no prefix
    * pruning) with the same integer threshold — prefix filtering is
    * lossless, so the two must hash-match exactly.
    */
  private val x253OracleSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS term
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, term FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM sh a JOIN sh b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT doc_a, doc_b, shared, ca.sz AS na, cb.sz AS nb,
             round(CAST(shared AS DOUBLE) / (ca.sz + cb.sz - shared), 4) AS jacc
      FROM pairs
      JOIN cnt ca ON ca.doc_id = doc_a
      JOIN cnt cb ON cb.doc_id = doc_b
      WHERE shared * 2 >= 1 * (ca.sz + cb.sz - shared)
      ORDER BY doc_a, doc_b"""

  // ---- x254: Dirichlet query likelihood -------------------------------------------

  /** Top-`k` docs per query under the Dirichlet-smoothed query-likelihood
    * model: score(q,d) = Σ_{t∈q} ln((tf(t,d) + µ·cf_t/T)/(dl + µ)),
    * query terms distinct, OOV query terms dropped (they shift every
    * doc's score by the same −∞ and carry no ranking signal).
    * Output: (q_id, c_id, score, rk), score rounded 4dp before ranking,
    * ties by c_id; self-matches excluded.
    *
    * The sum decomposes as Σ_matched ln(1 + tf·T/(µ·cf_t))
    * + Σ_{t∈q} ln(µ·cf_t/T) − qlen·ln(dl + µ): only the first term
    * touches (doc, term) rows, so scoring is one equi-join on the term
    * over candidate docs, a (q,d) partial-agg sum, and two broadcast
    * spines (per-query constant, corpus totals) — the x33 plan shape
    * with a different formula.
    */
  def dirichletQueryLikelihood(
      corpus: DataFrame, queries: DataFrame, idCol: String, textCol: String,
      k: Int, mu: Double = 2000.0): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    val tf = corpus
      .select(col(idCol).as("c_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("term"))
      .groupBy(col("c_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
    val total = tf.agg(sum(col("tf")).as("tot"))
    val qt = queries
      .select(col(idCol).as("q_id"), explode(array_distinct(toks)).as("term"))
      .join(cf, Seq("term")) // drops OOV terms
    val qConst = qt.crossJoin(broadcast(total))
      .groupBy(col("q_id"))
      .agg(sum(log(lit(mu) * col("cf") / col("tot"))).as("qconst"),
        count(lit(1)).as("qlen"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("c_id"))
    qt.join(tf, Seq("term"))
      .filter(col("c_id") =!= col("q_id"))
      .crossJoin(broadcast(total))
      .groupBy(col("q_id"), col("c_id"), col("dl"))
      .agg(sum(log(lit(1.0) + col("tf") * col("tot") / (lit(mu) * col("cf"))))
        .as("msum"))
      .join(broadcast(qConst), Seq("q_id"))
      .withColumn("score", round(
        col("msum") + col("qconst") - col("qlen") * log(col("dl") + mu), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("c_id"), col("score"), col("rk").cast("long").as("rk"))
  }

  /** x254: Dirichlet-QL top-3 for the five fixture query docs. */
  def x254DirichletQl(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    dirichletQueryLikelihood(d, d.filter(col("doc_id") < 5), "doc_id", "text", k = 3)
  }

  private val x254OracleSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      tf AS (SELECT doc_id AS c_id, len(tk) AS dl, u.term, count(*) AS tf
             FROM d, UNNEST(tk) AS u(term)
             GROUP BY 1, 2, 3),
      cf AS (SELECT term, sum(tf) AS cf FROM tf GROUP BY term),
      tot AS (SELECT sum(tf) AS tot FROM tf),
      qt AS (SELECT doc_id AS q_id, u.term
             FROM d, UNNEST(list_distinct(tk)) AS u(term)
             WHERE doc_id < 5),
      qv AS (SELECT qt.q_id, qt.term, cf.cf FROM qt JOIN cf ON cf.term = qt.term),
      qc AS (SELECT q_id, sum(ln(2000.0 * cf / t.tot)) AS qconst, count(*) AS qlen
             FROM qv CROSS JOIN tot t GROUP BY q_id),
      m AS (SELECT qv.q_id, tf.c_id, tf.dl,
                   sum(ln(1.0 + tf.tf * t.tot / (2000.0 * qv.cf))) AS msum
            FROM qv
            JOIN tf ON tf.term = qv.term AND tf.c_id <> qv.q_id
            CROSS JOIN tot t
            GROUP BY 1, 2, 3),
      scored AS (
        SELECT m.q_id, m.c_id,
               round(m.msum + qc.qconst - qc.qlen * ln(m.dl + 2000.0), 4) AS score
        FROM m JOIN qc ON qc.q_id = m.q_id)
      SELECT q_id, c_id, score, CAST(rk AS BIGINT) AS rk FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY score DESC, c_id) AS rk
        FROM scored) WHERE rk <= 3
      ORDER BY q_id, rk"""

  val entries: Seq[Entry] = Seq(
    Entry("x253_prefix_filter_pairs", x253PrefixFilterPairs _, x253OracleSql),
    Entry("x254_dirichlet_ql", x254DirichletQl _, x254OracleSql))
}
