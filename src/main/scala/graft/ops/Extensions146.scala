package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-forty-sixth extension batch — multiplicity-aware
  * near-duplication:
  *
  *  - WEIGHTED JACCARD PAIRS (x332): the bag (multiset) form
  *    wJ = Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b) — set-Jaccard
  *    (x02) treats "the the the … the" and one "the" identically, so
  *    boilerplate-heavy corpora read as near-dups on vocabulary alone;
  *    the weighted form credits shared MASS. Candidates come from
  *    rare-token postings (2 ≤ df ≤ `dfCap`, the stop-token/AllPairs
  *    discipline the x232 cap made standard here: a hot token never
  *    seeds a pair, so candidate volume is ≤ vocab·dfCap² by
  *    construction — lossy exactly for pairs whose every shared token
  *    is hot, the same documented trade as x232, with the exact
  *    Σmin/Σmax verify keeping precision at 1).
  *
  * Determinism: pure integer tf arithmetic; the final ratio renders
  * round4 like every Jaccard in the house. Scale: one tf hash-agg, one
  * df hash-agg, a df-capped posting self-join, and a per-candidate
  * token-overlap join — never doc×doc.
  */
object Extensions146 {

  /** Multiset near-dup pairs: (doc_a, doc_b, wjaccard), doc_a < doc_b,
    * wjaccard = round4(Σmin/Σmax) ≥ `threshold`. Σmax composes as
    * n_a + n_b − Σmin, so only the shared-token join is pairwise.
    */
  def weightedJaccardPairs(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, dfCap: Int = 20): DataFrame = {
    require(dfCap >= 2, "weightedJaccardPairs: dfCap must be >= 2")
    require(threshold > 0.0 && threshold <= 1.0,
      "weightedJaccardPairs: threshold must be in (0, 1]")
    // tf per (doc, token hash): unique keys, as sum_min_sorted requires
    val tf = Extensions.materialized(
      corpus.select(col(idCol).cast("long").as("doc_id"),
          explode(filter(split(lower(col(textCol)), " "),
            t => length(t) > 0)).as("tok"))
        .groupBy(col("doc_id"), xxhash64(col("tok")).as("tk"))
        .agg(count(lit(1)).as("tf")))
    // Seeds are 3-word SHINGLES, not bare tokens: in a natural corpus
    // most single tokens are hot (df >> cap) and token seeding finds
    // nothing, while shared word TRIGRAMS are rare exactly between
    // near-dups — the x02 shingle intuition applied to the candidate
    // stage only (the verify below stays token-mass exact).
    val sh = Extensions.materialized(
      corpus.select(col(idCol).cast("long").as("doc_id"),
          filter(split(lower(col(textCol)), " "), t => length(t) > 0).as("tk"))
        .filter(size(col("tk")) >= 3)
        .select(col("doc_id"), explode(
          transform(sequence(lit(1), size(col("tk")) - 2),
            i => concat_ws(" ", element_at(col("tk"), i),
              element_at(col("tk"), i + 1), element_at(col("tk"), i + 2))))
          .as("g"))
        .distinct())
    val seeds = sh.join(
      sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= dfCap)
        .select(col("g")),
      Seq("g"))
    val cands = seeds.select(col("g"), col("doc_id").as("doc_a")).as("a")
      .join(seeds.select(col("g"), col("doc_id").as("doc_b")).as("b"),
        col("a.g") === col("b.g") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    // r15 (guide §2.3/§3.2/§4): the verify stage used to explode every
    // candidate pair into one row per doc_a token and equi-join tf back
    // on (doc_b, tok) — probe: 1.12M cands → 28.7M joined rows → 3.5 s
    // at sf0.1, all re-aggregated by pair afterwards. Replaced by a
    // per-pair two-pointer merge over per-doc sorted (token-hash, tf)
    // vectors ([[graft.functions.SumMinSortedMerge]], codegen'd): the
    // doc-vector table is O(docs) rows and broadcasts, so the verify is
    // ONE narrow pass over the candidate pairs — no explosion, no
    // re-agg. Σmin arithmetic is identical (exact longs, unique keys
    // per side); token identity rides xxhash64 (the shingleIndexFastOf
    // engine-internal-equality convention). A lossless AllPairs LENGTH
    // FILTER drops pairs first: wJ ≥ t needs sm ≥ tN(na+nb)/(tD+tN) and
    // sm ≤ min(na,nb), so (tD+tN)·min(na,nb) ≥ tN·(na+nb) in exact
    // integers (tN = t·10⁵−5, the x158 round4 rule; 23% of pairs at
    // sf0.1).
    val tNum = math.round(threshold * 100000.0) - 5L
    val tDen = 100000L
    val docvec = tf
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("tk"), col("tf")))).as("kv"),
        sum(col("tf")).as("n"))
      .select(col("doc_id"), col("kv.tk").as("ks"), col("kv.tf").as("vs"),
        col("n"))
    cands
      .join(broadcast(docvec.select(col("doc_id").as("doc_a"),
        col("ks").as("ka"), col("vs").as("va"), col("n").as("na"))), Seq("doc_a"))
      .join(broadcast(docvec.select(col("doc_id").as("doc_b"),
        col("ks").as("kb"), col("vs").as("vb"), col("n").as("nb"))), Seq("doc_b"))
      .filter(least(col("na"), col("nb")) * lit(tDen + tNum) >=
        lit(tNum) * (col("na") + col("nb")))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        graft.functions.VectorFunctions.sum_min_sorted(
          col("ka"), col("va"), col("kb"), col("vb")).as("sm"))
      .withColumn("wjaccard",
        Extensions.round4o(col("sm") / (col("na") + col("nb") - col("sm"))))
      .filter(col("wjaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("wjaccard"))
  }

  /** x332: multiset near-dups over the documents table at wJ ≥ 0.5. */
  def x332WeightedJaccard(s: SparkSession, dir: String): DataFrame =
    weightedJaccardPairs(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x332OracleSql: String = """
      WITH d AS (SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS tk
           FROM documents),
      tf AS (SELECT doc_id, u.tok, CAST(count(*) AS BIGINT) AS tf
             FROM d, UNNEST(tk) AS u(tok) GROUP BY doc_id, u.tok),
      tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n FROM tf GROUP BY doc_id),
      sh AS (SELECT DISTINCT doc_id,
               tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
             FROM d, LATERAL unnest(generate_series(1, len(tk) - 2)) AS u(i)
             WHERE len(tk) >= 3),
      dfs AS (SELECT g FROM (
                SELECT g, count(*) AS df FROM sh GROUP BY g)
              WHERE df BETWEEN 2 AND 20),
      sd AS (SELECT sh.g, sh.doc_id FROM sh JOIN dfs USING (g)),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM sd a JOIN sd b ON a.g = b.g AND a.doc_id < b.doc_id),
      sm AS (SELECT c.doc_a, c.doc_b,
               CAST(sum(least(ta.tf, tb.tf)) AS BIGINT) AS sm
             FROM cand c
             JOIN tf ta ON ta.doc_id = c.doc_a
             JOIN tf tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
             GROUP BY c.doc_a, c.doc_b)
      SELECT sm.doc_a, sm.doc_b,
             round(sm.sm * 10000.0 / (na.n + nb.n - sm.sm), 0) / 10000.0
               AS wjaccard
      FROM sm
      JOIN tot na ON na.doc_id = sm.doc_a
      JOIN tot nb ON nb.doc_id = sm.doc_b
      WHERE round(sm.sm * 10000.0 / (na.n + nb.n - sm.sm), 0) / 10000.0 >= 0.5
      ORDER BY doc_a, doc_b"""

  // ---- x333: overlapping token chunking -------------------------------------------------

  /** RAG-style overlapping chunker: split each document's token stream
    * into windows of `chunkTokens` starting every
    * `chunkTokens − overlapTokens` tokens — one row per chunk with a
    * STABLE id (doc_id, chunk_idx): (doc_id, chunk_idx, start_tok,
    * n_chunk_tokens, chunk_text). The last window may be short; a doc
    * shorter than one stride still yields exactly one chunk — but a
    * chunk is emitted ONLY when it contains at least one token past the
    * previous chunk's overlap (round-14 spec fix: the former bound
    * emitted a fully-redundant trailing chunk whenever
    * docLen mod stride ∈ [1, overlap] — e.g. a 128-token doc at
    * 128/32 yielded chunk 1 = tokens 97–128, a strict subset of chunk
    * 0, silently inflating any RAG index built on it). Where x322
    * prices the concat-and-cut PRETRAINING layout, this is the
    * retrieval-side segmentation — chunks never cross documents.
    *
    * Thin adapter over [[Chunker.strided]] (round-14 consolidation;
    * kernel siblings: x36 [[Extensions4.chunkDocuments]] keeps raw
    * tokens, short tails and every start; x240
    * [[Extensions105.chunkDocuments]] clamps the tail full-size).
    *
    * Scale: map-only (tokenize once, slice per start) — embarrassingly
    * parallel, no shuffle, no state.
    */
  def chunkText(
      corpus: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 128, overlapTokens: Int = 32): DataFrame = {
    require(chunkTokens >= 1 && overlapTokens >= 0 &&
      overlapTokens < chunkTokens,
      "chunkText: need 0 <= overlap < chunkTokens")
    val pre = corpus.select(col(idCol).cast("long").as("__did"),
      col(textCol).as("__txt"))
    Chunker.strided(pre, "__did", "__txt", chunkTokens,
        chunkTokens - overlapTokens,
        lowercase = true, dropEmptyTokens = true, Chunker.TrimmedTail)
      .select(col("doc_id"), col("chunk_idx"),
        col("start0").as("start_tok"),
        col("n_toks").as("n_chunk_tokens"), col("chunk_text"))
  }

  /** x333: the documents table chunked at 128 tokens, 32 overlap. */
  def x333ChunkText(s: SparkSession, dir: String): DataFrame =
    chunkText(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x333OracleSql: String = """
      WITH d AS (SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS tk
           FROM documents),
      nz AS (SELECT * FROM d WHERE len(tk) > 0),
      ix AS (SELECT doc_id, tk, u.ci AS chunk_idx
             FROM nz, LATERAL unnest(generate_series(0,
               greatest((len(tk) - 32 - 1) // 96, 0))) AS u(ci)),
      ck AS (SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(chunk_idx * 96 AS BIGINT) AS start_tok,
               tk[chunk_idx * 96 + 1 : chunk_idx * 96 + 128] AS ckl
             FROM ix)
      SELECT doc_id, chunk_idx, start_tok,
             CAST(len(ckl) AS BIGINT) AS n_chunk_tokens,
             array_to_string(ckl, ' ') AS chunk_text
      FROM ck WHERE len(ckl) > 0
      ORDER BY doc_id, chunk_idx"""

  val entries: Seq[Entry] = Seq(
    Entry("x332_weighted_jaccard", x332WeightedJaccard _, x332OracleSql),
    Entry("x333_chunk_text", x333ChunkText _, x333OracleSql))
}
