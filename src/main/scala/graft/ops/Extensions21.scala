package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Twenty-first extension batch — positional retrieval:
  *
  *  - exact phrase search (x82): the positional-inverted-index algorithm
  *    (the classic IR phrase query): tokens are indexed with their
  *    positions; a phrase of tokens q0..qm matches a document at
  *    position p iff token p+i == qi for every i — found by equi-joining
  *    each query token against the index with the ALIGNMENT KEY
  *    pos − i, then requiring all m+1 tokens to agree on one (doc,
  *    alignment). BM25 (x33) ranks by bag-of-words; the contamination
  *    scan (x20) matches gram sets; this is the operator that answers
  *    "which documents contain this exact phrase, and how often" —
  *    license-string hunting, memorization probes, exact-quote lookup.
  */
object Extensions21 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Exact-phrase occurrence counts per document. `phrase` is a
    * whitespace token sequence (matched case-insensitively on the
    * whitespace tokenization — the same tokenizer every text operator
    * here uses). Output: (doc_id, n_matches, first_pos) for documents
    * with at least one occurrence.
    *
    * Scale: the corpus side is the positional token index (doc, tok,
    * pos) — ONE narrow explode, equi-joined on the token string against
    * m+1 broadcast query tokens. Work scales with the POSTINGS of the
    * phrase's tokens (rare tokens → tiny), never with corpus × phrase.
    * The (doc, alignment) agg is a hash-agg on already-narrowed rows.
    * A multi-phrase batch generalizes by adding a phrase_id to the query
    * side of the same joins.
    */
  def phraseSearch(
      corpus: DataFrame, idCol: String, textCol: String,
      phrase: String): DataFrame = {
    val qToks = phrase.toLowerCase.split(" ").toSeq
    require(qToks.nonEmpty && qToks.forall(_.nonEmpty),
      "phrase must contain at least one non-empty token")
    val m = qToks.length
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = qToks.zipWithIndex.toDF("tok", "qpos")
    val idx = corpus
      .select(col(idCol).as("doc_id"), split(lower(col(textCol)), " ").as("tk"))
      .select(col("doc_id"), posexplode(col("tk")).as(Seq("pos", "tok")))
    alignChain(idx, q, m)
  }

  /** The (doc, alignment) agreement tail shared by [[phraseSearch]]
    * (in-memory index) and [[PostingStore.phraseSearchFromIndex]]
    * (bucket-pruned persisted index) — one body so the two serving
    * paths cannot drift. `idx` = (doc_id, pos, tok) postings, `q` =
    * (tok, qpos) query tokens, `m` = phrase length.
    */
  private[ops] def alignChain(idx: DataFrame, q: DataFrame, m: Int): DataFrame =
    idx.join(broadcast(q), Seq("tok"))
      .select(col("doc_id"), (col("pos") - col("qpos")).as("align"))
      // all m query tokens must land on the same alignment; a doc token
      // equal to several query tokens contributes one row per qpos, so
      // the count per (doc, align) hits m exactly when the full phrase
      // sits at that alignment
      .groupBy(col("doc_id"), col("align"))
      .agg(count(lit(1)).as("hits"))
      .filter(col("hits") === m && col("align") >= 0)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        (min(col("align")) + 1).cast("long").as("first_pos"))

  /** x82: [[phraseSearch]] for a 3-token phrase drawn from the fixture's
    * vocabulary ("batch batch batch" — repetition runs exist in the
    * generated text, so multi-match documents are exercised too).
    */
  def x82PhraseSearch(s: SparkSession, dir: String): DataFrame =
    phraseSearch(docs(s, dir), "doc_id", "text", "batch batch batch")

  private val x82OracleSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      pos AS (SELECT doc_id, i AS p
              FROM d, UNNEST(generate_series(1, len(tk) - 2)) AS t(i)
              WHERE len(tk) >= 3
                AND tk[i] = 'batch' AND tk[i+1] = 'batch' AND tk[i+2] = 'batch')
      SELECT doc_id,
             count(*) AS n_matches,
             CAST(min(p) AS BIGINT) AS first_pos
      FROM pos
      GROUP BY doc_id
      ORDER BY doc_id"""

  val entries: Seq[Entry] = Seq(
    Entry("x82_phrase_search", x82PhraseSearch _, x82OracleSql))
}
