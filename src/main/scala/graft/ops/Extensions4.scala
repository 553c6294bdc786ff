package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Fourth extension batch — retrieval and incremental-corpus operators:
  * query-by-document text similarity search (top-k by n-gram Jaccard over
  * the inverted index) and incremental batch-vs-corpus dedup (the shape a
  * continuously-crawled 100 TB corpus actually runs: dedup the new batch
  * against the existing corpus without ever recomputing corpus×corpus).
  *
  * Scale notes: both operators go through the shingle inverted index —
  * only documents sharing an n-gram ever meet, never all-pairs. x29
  * broadcasts the (small) query-side index; x30's batch index is the
  * small side of the key join against the corpus index, and the corpus
  * side is touched once (no corpus self-join anywhere).
  */
object Extensions4 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Query-by-document similarity search: for each query document, the
    * `k` most similar corpus documents by exact n-gram Jaccard. Candidate
    * generation is the inverted-index equi-join (a corpus doc is scored
    * only if it shares at least one shingle with the query); scoring is
    * exact Jaccard over the shared-shingle counts both index sides carry.
    * Jaccard is rounded BEFORE ranking so ulp noise cannot reorder the
    * top-k; ties break by candidate id.
    *
    * At 100 TB: the query set (a retrieval workload, an eval suite, an
    * attribution probe) is small — its index broadcasts, so the corpus
    * index never shuffles: one scan, map-side join, one agg by
    * (q_id, c_id) whose cardinality is bounded by shared-shingle pairs.
    */
  def jaccardTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, textCol: String,
      k: Int, shingleSize: Int = 5): DataFrame = {
    val ci = Extensions.shingleIndexFastOf(corpus, idCol, textCol, shingleSize)
      .select(col("doc_id").as("c_id"), col("n_sh").as("cn"), col("shk"))
    val qi = Extensions.shingleIndexFastOf(queries, idCol, textCol, shingleSize)
      .select(col("doc_id").as("q_id"), col("n_sh").as("qn"), col("shk"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("jaccard").desc, col("c_id"))
    ci.join(broadcast(qi), Seq("shk"))
      .filter(col("c_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(count(lit(1)).as("shared"), max(col("qn")).as("qn"), max(col("cn")).as("cn"))
      .withColumn("jaccard",
        Extensions.round4o(col("shared") / (col("qn") + col("cn") - col("shared"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("c_id"), col("jaccard"), col("rk").cast("long").as("rk"))
  }

  /** x29: [[jaccardTopK]] on the documents fixture — docs 0-9 as the
    * query set against the whole corpus, top-3 each, 3-gram shingles
    * (the fixture's synthetic text shares few 5-grams across documents;
    * 3-grams give every query a populated candidate set so the ranking
    * path is actually exercised).
    */
  def x29JaccardTopK(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    jaccardTopK(d, d.filter(col("doc_id") < 10), "doc_id", "text",
        k = 3, shingleSize = 3)
  }

  /** Incremental dedup: judge each NEW-batch document against the
    * EXISTING corpus — keep it iff no corpus document reaches the Jaccard
    * threshold; otherwise report the best-matching corpus survivor
    * (highest Jaccard, ties to lowest id). The decision table carries
    * every batch doc exactly once (`keep` + nullable `dup_of`/`jaccard`),
    * so the caller can anti-join its batch in one step.
    *
    * This is the steady-state shape of a crawled corpus: the expensive
    * corpus×corpus pass ran once historically; each increment then costs
    * batch-index × corpus-index through the inverted index — linear in
    * the batch, never quadratic in the corpus, and the corpus text is
    * scanned exactly once per increment.
    *
    * Scope: decisions are batch-vs-CORPUS only — two duplicates arriving
    * in the SAME batch are both kept (neither is in the corpus yet).
    * Compose with [[Extensions.exactDedup]] / [[Extensions.jaccardPairs]]
    * over the batch first when within-batch duplication matters.
    */
  def incrementalDedup(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, shingleSize: Int = 5): DataFrame = {
    val ci = Extensions.shingleIndexFastOf(corpus, idCol, textCol, shingleSize)
      .select(col("doc_id").as("c_id"), col("n_sh").as("cn"), col("shk"))
    val bi = Extensions.shingleIndexFastOf(batch, idCol, textCol, shingleSize)
      .select(col("doc_id").as("b_id"), col("n_sh").as("bn"), col("shk"))
    val w = Window.partitionBy(col("b_id")).orderBy(col("jaccard").desc, col("c_id"))
    val best = ci.join(bi.hint("shuffle_hash"), Seq("shk"))
      .groupBy(col("b_id"), col("c_id"))
      .agg(count(lit(1)).as("shared"), max(col("bn")).as("bn"), max(col("cn")).as("cn"))
      .withColumn("jaccard",
        Extensions.round4o(col("shared") / (col("bn") + col("cn") - col("shared"))))
      .filter(col("jaccard") >= threshold)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("b_id"), col("c_id").as("dup_of"), col("jaccard"))
    batch.select(col(idCol).as("b_id"))
      .join(best, Seq("b_id"), "left_outer")
      .select(col("b_id"), col("dup_of").isNull.as("keep"), col("dup_of"), col("jaccard"))
  }

  /** x30: [[incrementalDedup]] on the documents fixture — docs >= 450 as
    * the incoming batch against the < 450 corpus at the x02 threshold.
    */
  def x30IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    incrementalDedup(
      d.filter(col("doc_id") < 450), d.filter(col("doc_id") >= 450),
      "doc_id", "text", threshold = 0.5)
  }

  /** Recall of an ANN result against a ground-truth top-k: per query, the
    * fraction of true neighbors the ANN run retrieved. Queries whose ANN
    * result is empty (the bucketed path found nothing) still appear with
    * recall 0 — silently dropping them would overstate quality. Both
    * inputs are (q_id, c_id [, ...]) result tables; the denominator is the
    * per-query truth count (robust when fewer than k true neighbors exist).
    *
    * This is the evaluation harness every ANN deployment needs next to the
    * index itself: brute-force truth on a SAMPLED query set (small — every
    * join here is broadcast-sized), recall measured per query, aggregated
    * by the caller. Rounded to 4 so the number is engine-portable.
    */
  def recallAtK(ann: DataFrame, truth: DataFrame): DataFrame = {
    val hits = truth.select(col("q_id"), col("c_id"))
      .join(ann.select(col("q_id"), col("c_id")), Seq("q_id", "c_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hit"))
    truth.groupBy(col("q_id")).agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("q_id"), "left_outer")
      .select(col("q_id"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        Extensions.round4o(coalesce(col("n_hit"), lit(0L)) / col("n_truth")).as("recall"))
  }

  /** x31: recall@3 of the sign-bucket ANN family against brute-force truth
    * on the embeddings fixture — single-probe (x06) vs multiprobe (x13)
    * side by side. This is the recall-vs-candidate-volume dial those
    * operators trade on, measured: multiprobe probes the 7 Hamming-<=1
    * cells and must dominate single-probe per query.
    */
  def x31AnnRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") < 10)
    val probe1 = Extensions.signBucketTopK(e, q, "vec_id", "embedding",
      k = 3, signBits = 6)
    val multi = Extensions.x13AnnMultiprobe(s, dir)
    val qb = q.select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val c = e.select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    val truth = c.crossJoin(broadcast(qb))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("sim", round(
        graft.functions.VectorFunctions.cosine_similarity(col("qv"), col("cv")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("q_id"), col("c_id"))
    recallAtK(probe1, truth).withColumn("method", lit("probe1"))
      .unionByName(recallAtK(multi, truth).withColumn("method", lit("multiprobe")))
      .select(col("method"), col("q_id"), col("n_truth"), col("n_hit"), col("recall"))
  }

  /** BM25 top-k retrieval: score corpus documents against query documents
    * with the standard Okapi BM25 weight over shared terms —
    * idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)),
    * w(t, d) = idf·tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)) —
    * and keep each query's `k` best. The realistic lexical-retrieval
    * scorer on top of the same inverted index jaccardTopK uses.
    *
    * Plan shape at scale: term frequencies and doc lengths are one scan +
    * one (doc, term) agg; the corpus-level stats (N, avgdl, per-term df)
    * are tiny and broadcast; the query term list broadcasts; scoring is an
    * equi-join on the term followed by a (q, d) partial-agg sum. Nothing
    * global except the k-row-per-query cut.
    *
    * Determinism: avgdl derives from exact integer sums (no double
    * aggregation order sensitivity), scores are rounded to 4 BEFORE
    * ranking, ties break by candidate id — the whole formula replays in
    * the SQL oracle.
    */
  def bm25TopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, textCol: String,
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    val tf = corpus
      .select(col(idCol).as("c_id"), size(toks).cast("long").as("dl"),
        explode(toks).as("term"))
      .groupBy(col("c_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val stats = corpus
      .select(col(idCol), size(toks).cast("long").as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qt = queries
      .select(col(idCol).as("q_id"), explode(array_distinct(toks)).as("term"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("score").desc, col("c_id"))
    qt.join(tf, Seq("term"))
      .filter(col("c_id") =!= col("q_id"))
      .join(broadcast(docFreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("wt",
        col("idf") * col("tf") * (lit(k1) + 1.0) /
          (col("tf") + lit(k1) *
            (lit(1.0) - lit(b) + lit(b) * col("dl") * col("n_docs") / col("sum_dl"))))
      .groupBy(col("q_id"), col("c_id"))
      .agg(round(sum(col("wt")), 4).as("score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("c_id"), col("score"), col("rk").cast("long").as("rk"))
  }

  /** x33: [[bm25TopK]] on the documents fixture — docs 0-4 as queries,
    * top-3 each.
    */
  def x33Bm25TopK(s: SparkSession, dir: String): DataFrame =
    bm25TopK(docs(s, dir), docs(s, dir).filter(col("doc_id") < 5),
        "doc_id", "text", k = 3)

  /** Corpus-level vocabulary extraction: the `k` most frequent tokens with
    * corpus counts and document frequencies — the input to tokenizer/vocab
    * training, stopword derivation, and OOV analysis. One scan, two-level
    * aggregate: the (doc, token) pre-agg collapses within-document repeats
    * map-side (no join, no second pass for the df count — n_docs is just
    * the row count of the pre-agg per token), and the final top-k is a
    * TakeOrderedAndProject (per-partition heaps, no global sort). Ties
    * break lexicographically so the cut is deterministic.
    */
  def vocabTopK(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("__doc"),
        explode(split(lower(col(textCol)), " ")).as("token"))
      .groupBy(col("__doc"), col("token"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("token"))
      .agg(sum(col("c")).as("n_total"), count(lit(1)).as("n_docs"))
      .orderBy(col("n_total").desc, col("token"))
      .limit(k)

  /** x32: top-20 vocabulary of the documents fixture with corpus counts
    * and document frequencies.
    */
  def x32VocabTopK(s: SparkSession, dir: String): DataFrame =
    vocabTopK(docs(s, dir), "doc_id", "text", k = 20)

  // ---- X19-X21 (SURVEY §2.11): semantic dedup, TF-IDF, chunking -----------

  /** End-to-end semantic dedup (SemDeDup-shaped): embedding near-dup pairs
    * (sign-bucket candidates only — never n²) → connected components →
    * a per-row decision table (id, component, keep) over the FULL corpus,
    * keep = "this row is its cluster's representative" (min id). Rows in
    * no cluster keep themselves. One anti-join against `keep = false`
    * removes the semantic duplicates.
    *
    * At 100 TB: candidate generation is per-cell products (size the cells
    * with [[Extensions.signBitsFor]]), the pair graph is orders of
    * magnitude smaller than the corpus, and components run on the graph,
    * not the corpus — the corpus is touched once for pairs and once for
    * the final decision join (AQE broadcasts the cluster map when small).
    */
  def semanticDedup(
      corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, signBits: Int = 6): DataFrame = {
    val pairs = Extensions.embeddingNearDupPairs(
      corpus, idCol, vecCol, threshold, signBits)
    val comp = Extensions2.connectedComponents(pairs, "vec_a", "vec_b")
      .withColumnRenamed("doc_id", "vec_id")
    corpus.select(col(idCol).as("vec_id"))
      .join(comp, Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("component"),
        (coalesce(col("component"), col("vec_id")) === col("vec_id")).as("keep"))
  }

  /** x34: [[semanticDedup]] on the embeddings fixture at the x15 threshold
    * (0.45 — the fixture's same-cell cosine tops out near 0.6, so the
    * threshold bites and real clusters form).
    */
  def x34SemanticDedup(s: SparkSession, dir: String): DataFrame =
    semanticDedup(emb(s, dir), "vec_id", "embedding",
        threshold = 0.45, signBits = 6)

  /** Per-document TF-IDF keyword extraction: each document's `k` highest
    * tf·ln(N/df) terms — the corpus-statistics dual of [[bm25TopK]]
    * (that one scores foreign queries; this one characterizes each doc by
    * its own most distinctive terms, the standard input to topic labeling
    * and quality heuristics).
    *
    * Plan shape: the (doc, term) count table is materialized ONCE and
    * feeds both the per-term doc frequency and the back-join — tokenize +
    * explode (the dominant cost) runs a single time, same discipline as
    * x27's shingle index; df and N broadcast (vocabulary ≪ corpus; at a
    * 100 TB corpus the distinct-term table is still orders of magnitude
    * smaller — and AQE demotes the hint if not); the per-doc cut is a
    * WindowGroupLimit. Scores are rounded BEFORE ranking (libm-ln ulp
    * noise cannot reorder the cut); ties break lexicographically.
    */
  def tfidfTopTerms(
      corpus: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    val tf = Extensions.materialized(corpus
      .select(col(idCol).as("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val nDocs = corpus.agg(count(lit(1)).as("n_docs"))
    val docFreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    tf.join(broadcast(docFreq), Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"),
        col("rk").cast("long").as("rk"))
  }

  /** x35: top-3 TF-IDF terms per document on the documents fixture. */
  def x35TfidfTerms(s: SparkSession, dir: String): DataFrame =
    tfidfTopTerms(docs(s, dir), "doc_id", "text", k = 3)

  /** Strided token-window chunking — the training-data prep step that
    * turns variable-length documents into (near-)fixed-length training
    * sequences with overlap: chunk `c` covers tokens
    * [c·stride, c·stride + window); every token is covered; tail chunks
    * are shorter. Map-only (explode of per-doc window starts — no
    * shuffle, no state), so it scales with the scan.
    *
    * Complements [[Extensions3]]'s sequence packing (x23): chunking SPLITS
    * long documents, packing CONCATENATES short ones — real pipelines run
    * chunk → pack.
    *
    * Thin adapter over [[Chunker.strided]] (round-14 consolidation;
    * kernel siblings: x240 [[Extensions105.chunkDocuments]] clamps the
    * tail to full-size, x333 [[Extensions146.chunkText]] lowercases and
    * trims fully-redundant tails — this form keeps raw tokens and short
    * tails).
    */
  def chunkDocuments(
      corpus: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame =
    Chunker.strided(corpus, idCol, textCol, window, stride,
        lowercase = false, dropEmptyTokens = false, Chunker.ShortTail)
      .select(col("doc_id"), col("chunk_idx").as("chunk_id"),
        col("n_toks").as("n_tokens"), col("chunk_text"))

  /** x36: [[chunkDocuments]] at window 50 / stride 40 (10-token overlap)
    * on the documents fixture.
    */
  def x36ChunkDocs(s: SparkSession, dir: String): DataFrame =
    chunkDocuments(docs(s, dir), "doc_id", "text", window = 50, stride = 40)

  /** Unigram language-model scoring (the CCNet-style quality signal):
    * train the corpus unigram distribution, then score every document by
    * its per-token cross-entropy against it,
    * `H(doc) = ln(N) - (1/|doc|) Σ_tokens tf·ln(cnt(term))` — low = the
    * doc looks like the corpus, high = rare-token noise (mojibake, id
    * dumps, boilerplate-free gibberish). The standard next filter after
    * [[Extensions2]]'s rule-based quality gate: rank by `cross_entropy`
    * and cut a tail percentile.
    *
    * Plan shape: the (doc, term, tf) table is materialized once (same
    * discipline as [[tfidfTopTerms]]) and feeds the term-count model, the
    * normalizer N (sum over the model — never a second corpus pass), and
    * the scoring join; the trained model broadcasts (vocabulary ≪
    * corpus). Scores round to 4dp only at the end (sub-ulp agg-order
    * noise cannot move 1e-4 buckets).
    */
  def unigramScore(
      corpus: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    val tf = Extensions.materialized(corpus
      .select(col(idCol).as("doc_id"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val model = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val nTok = model.agg(sum(col("cnt")).as("n_tok"))
    tf.join(broadcast(model), Seq("term"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * log(col("cnt").cast("double"))).as("s"))
      .crossJoin(broadcast(nTok))
      .select(col("doc_id"), col("n_tokens"),
        round(log(col("n_tok").cast("double")) - col("s") / col("n_tokens"), 4)
          .as("cross_entropy"))
  }

  /** x37: [[unigramScore]] over the documents fixture. */
  def x37UnigramScore(s: SparkSession, dir: String): DataFrame =
    unigramScore(docs(s, dir), "doc_id", "text")

  /** Shared DuckDB shingle CTE prefix (n-gram, distinct-per-doc, with
    * per-doc counts) — the same arithmetic x20's oracle replays.
    */
  private def shingleCtes(n: Int): String = s"""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id,
                     CASE WHEN len(toks) >= $n THEN array_to_string(toks[i:i+${n - 1}], ' ')
                          ELSE array_to_string(toks, ' ') END AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= $n THEN len(toks)-${n - 1} ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)"""

  val entries: Seq[Entry] = Seq(
    Entry("x34_semantic_dedup", x34SemanticDedup _, """
      WITH RECURSIVE base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
             + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
             + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS bkt
        FROM embeddings),
      p AS (SELECT a.vec_id AS va, b.vec_id AS vb
            FROM base a JOIN base b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
            WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.45),
      edges AS (SELECT va AS src, vb AS dst FROM p
                UNION ALL SELECT vb, va FROM p),
      reach(node, comp) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node),
      cc AS (SELECT node, min(comp) AS comp FROM reach GROUP BY node)
      SELECT e.vec_id,
             coalesce(cc.comp, e.vec_id) AS component,
             coalesce(cc.comp, e.vec_id) = e.vec_id AS keep
      FROM embeddings e LEFT JOIN cc ON cc.node = e.vec_id
      ORDER BY e.vec_id"""),
    Entry("x35_tfidf_terms", x35TfidfTerms _, """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      tf AS (SELECT doc_id, u.term, count(*) AS tf
             FROM d, UNNEST(tk) AS u(term)
             GROUP BY 1, 2),
      n AS (SELECT count(*) AS n_docs FROM d),
      df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               round(tf.tf * ln(n.n_docs * 1.0 / df.df), 4) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY score DESC, term) AS rk
        FROM scored)
      SELECT doc_id, term, tf, df, score, rk FROM ranked WHERE rk <= 3
      ORDER BY doc_id, rk"""),
    Entry("x36_chunk_docs", x36ChunkDocs _, """
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
      starts AS (SELECT doc_id, tk, g.i AS start
                 FROM d, UNNEST(generate_series(0, len(tk) - 1, 40)) AS g(i))
      SELECT doc_id, start // 40 AS chunk_id,
             len(tk[start + 1 : start + 50]) AS n_tokens,
             array_to_string(tk[start + 1 : start + 50], ' ') AS chunk_text
      FROM starts
      ORDER BY doc_id, chunk_id"""),
    Entry("x37_unigram_score", x37UnigramScore _, """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      tf AS (SELECT doc_id, u.term, count(*) AS tf
             FROM d, UNNEST(tk) AS u(term)
             GROUP BY 1, 2),
      model AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
      n AS (SELECT sum(cnt) AS n_tok FROM model)
      SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
             round(ln(n.n_tok * 1.0)
                   - sum(tf.tf * ln(model.cnt * 1.0)) / sum(tf.tf), 4)
               AS cross_entropy
      FROM tf JOIN model USING (term) CROSS JOIN n
      GROUP BY tf.doc_id, n.n_tok
      ORDER BY tf.doc_id"""),
    Entry("x33_bm25_topk", x33Bm25TopK _, """
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
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, c_id) AS rk
        FROM scored)
      SELECT q_id, c_id, score, rk FROM ranked WHERE rk <= 3
      ORDER BY q_id, rk"""),
    Entry("x32_vocab_topk", x32VocabTopK _, """
      WITH tok AS (
        SELECT doc_id, u.token
        FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
             UNNEST(tk) AS u(token)),
      per_doc AS (
        SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token),
      vocab AS (
        SELECT token, CAST(sum(c) AS BIGINT) AS n_total,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM per_doc GROUP BY token)
      SELECT token, n_total, n_docs
      FROM vocab
      ORDER BY n_total DESC, token
      LIMIT 20"""),
    Entry("x31_ann_recall", x31AnnRecall _, """
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
             + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
             + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) AS bkt
        FROM embeddings),
      q AS (SELECT vec_id AS q_id, v AS qv, bkt FROM base WHERE vec_id < 10),
      qm AS (SELECT vec_id AS q_id, v AS qv, xor(bkt, delta) AS bkt
             FROM base, UNNEST([0, 1, 2, 4, 8, 16, 32]) AS u(delta)
             WHERE vec_id < 10),
      a1_scored AS (
        SELECT q_id, c.vec_id AS c_id,
               round(list_cosine_similarity(qv, c.v), 4) AS sim
        FROM base c JOIN q USING (bkt)
        WHERE c.vec_id <> q_id),
      a1 AS (
        SELECT q_id, c_id FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rk
          FROM a1_scored) WHERE rk <= 3),
      am_scored AS (
        SELECT DISTINCT q_id, c.vec_id AS c_id,
               round(list_cosine_similarity(qv, c.v), 4) AS sim
        FROM base c JOIN qm USING (bkt)
        WHERE c.vec_id <> q_id),
      am AS (
        SELECT q_id, c_id FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rk
          FROM am_scored) WHERE rk <= 3),
      brute_scored AS (
        SELECT q.q_id, c.vec_id AS c_id,
               round(list_cosine_similarity(q.qv, c.v), 4) AS sim
        FROM base c, q
        WHERE c.vec_id <> q.q_id),
      truth AS (
        SELECT q_id, c_id FROM (
          SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id) AS rk
          FROM brute_scored) WHERE rk <= 3),
      den AS (SELECT q_id, count(*) AS n_truth FROM truth GROUP BY q_id),
      h1 AS (SELECT t.q_id, count(*) AS n_hit
             FROM truth t JOIN a1 a ON a.q_id = t.q_id AND a.c_id = t.c_id
             GROUP BY t.q_id),
      hm AS (SELECT t.q_id, count(*) AS n_hit
             FROM truth t JOIN am a ON a.q_id = t.q_id AND a.c_id = t.c_id
             GROUP BY t.q_id)
      SELECT 'probe1' AS method, den.q_id, CAST(n_truth AS BIGINT) AS n_truth,
             CAST(coalesce(h1.n_hit, 0) AS BIGINT) AS n_hit,
             round(coalesce(h1.n_hit, 0) * 1.0 / n_truth, 4) AS recall
      FROM den LEFT JOIN h1 ON h1.q_id = den.q_id
      UNION ALL
      SELECT 'multiprobe' AS method, den.q_id, CAST(n_truth AS BIGINT) AS n_truth,
             CAST(coalesce(hm.n_hit, 0) AS BIGINT) AS n_hit,
             round(coalesce(hm.n_hit, 0) * 1.0 / n_truth, 4) AS recall
      FROM den LEFT JOIN hm ON hm.q_id = den.q_id
      ORDER BY method, q_id"""),
    Entry("x29_jaccard_topk", x29JaccardTopK _, (shingleCtes(3) + """,
      q AS (SELECT doc_id, sh FROM sh WHERE doc_id < 10),
      hits AS (SELECT q.doc_id AS q_id, c.doc_id AS c_id, count(*) AS shared
               FROM sh c JOIN q ON c.sh = q.sh AND c.doc_id <> q.doc_id
               GROUP BY 1, 2),
      scored AS (SELECT q_id, c_id,
                        round(shared * 1.0 / (cq.n_sh + cc.n_sh - shared), 4) AS jaccard
                 FROM hits
                 JOIN cnt cq ON cq.doc_id = q_id
                 JOIN cnt cc ON cc.doc_id = c_id),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
                           ORDER BY jaccard DESC, c_id) AS rk
                 FROM scored)
      SELECT q_id, c_id, jaccard, rk FROM ranked WHERE rk <= 3
      ORDER BY q_id, rk""")),
    Entry("x30_incremental_dedup", x30IncrementalDedup _, (shingleCtes(5) + """,
      hits AS (SELECT b.doc_id AS b_id, c.doc_id AS c_id, count(*) AS shared
               FROM sh c JOIN sh b ON c.sh = b.sh
               WHERE c.doc_id < 450 AND b.doc_id >= 450
               GROUP BY 1, 2),
      scored AS (SELECT b_id, c_id,
                        round(shared * 1.0 / (cb.n_sh + cc.n_sh - shared), 4) AS jaccard
                 FROM hits
                 JOIN cnt cb ON cb.doc_id = b_id
                 JOIN cnt cc ON cc.doc_id = c_id),
      best AS (SELECT *, row_number() OVER (PARTITION BY b_id
                         ORDER BY jaccard DESC, c_id) AS rk
               FROM scored WHERE jaccard >= 0.5)
      SELECT d.doc_id AS b_id,
             best.c_id IS NULL AS keep,
             best.c_id AS dup_of,
             best.jaccard
      FROM documents d
      LEFT JOIN best ON best.b_id = d.doc_id AND best.rk = 1
      WHERE d.doc_id >= 450
      ORDER BY b_id""")))
}
