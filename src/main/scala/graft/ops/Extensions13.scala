package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Thirteenth extension batch — release auditing: corpus-version diffing
  * (what changed between two corpus snapshots, by id and by content) and
  * the Zipf rank-frequency fit (is this corpus shaped like natural
  * language, or like logs/tables — the cheapest corpus-level sanity
  * signal there is).
  */
object Extensions13 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- corpus diff -----------------------------------------------------------

  /** Corpus-version diff: full-outer join of two snapshots on the id,
    * classifying every id as `added` / `removed` / `changed` / `same` by
    * content digest, aggregated to the one-row churn report a release
    * pipeline gates on (alert when `changed + removed` spikes).
    *
    * Scale: ids + 16-byte digests shuffle, never document bodies; one
    * equi-join plus a 4-key agg. The digest compares
    * canonicalized text via md5 — byte-identical content only
    * ([[Extensions3.normalizeText]] first if whitespace drift counts as
    * "same").
    */
  def corpusDiff(
      prev: DataFrame, next: DataFrame, idCol: String, textCol: String): DataFrame = {
    // presence is an explicit per-side flag, NOT digest nullity — a doc
    // present in both snapshots with NULL text in one would otherwise be
    // misclassified as added/removed (and diverge from the id-nullity
    // oracle); digests compare null-safely for the same reason
    val a = prev.select(col(idCol).as("id"), md5(col(textCol)).as("ha"),
      lit(true).as("in_prev"))
    val b = next.select(col(idCol).as("id"), md5(col(textCol)).as("hb"),
      lit(true).as("in_next"))
    a.join(b, Seq("id"), "full_outer")
      .select(
        when(col("in_prev").isNull, "added")
          .when(col("in_next").isNull, "removed")
          .when(col("ha") <=> col("hb"), "same")
          .otherwise("changed").as("change"))
      .groupBy(col("change"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** x64: [[corpusDiff]] between simulated releases of the fixture:
    * prev lacks id%7==0 (→ added) and perturbs id%5==0 (→ changed); next
    * lacks id%11==0 (→ removed) — all four classes populated,
    * deterministic.
    */
  def x64CorpusDiff(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir)
    val prev = base
      .filter(pmod(col("doc_id"), lit(7L)) =!= 0L)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(5L)) === 0L,
          concat(col("text"), lit(" perturbed"))).otherwise(col("text")))
    val next = base.filter(pmod(col("doc_id"), lit(11L)) =!= 0L)
    corpusDiff(prev, next, "doc_id", "text")
  }

  // ---- Zipf rank-frequency fit -----------------------------------------------

  /** Zipf spectrum: the top-`topK` token frequencies with their ranks,
    * plus the least-squares slope of ln(freq) on ln(rank) — natural text
    * sits near −1; machine-generated id dumps, logs, and templated spam
    * sit far away. One corpus-level number for "does this read like
    * language".
    *
    * Scale: one token hash-agg (map-side partials), a
    * `TakeOrderedAndProject` top-K cut, and a regression over K rows.
    * The rank window runs on K rows, not the corpus.
    */
  def zipfFit(
      corpus: DataFrame, textCol: String, topK: Int = 100): DataFrame = {
    val counts = corpus
      .select(explode(split(lower(col(textCol)), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok")).limit(topK)
    val ranked = counts
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("freq").desc, col("tok"))).cast("long"))
    ranked.agg(
      count(lit(1)).as("n_terms"),
      round(regr_slope(log(col("freq")), log(col("rank"))), 4).as("zipf_slope"),
      round(regr_r2(log(col("freq")), log(col("rank"))), 4).as("fit_r2"))
  }

  /** x65: [[zipfFit]] over the documents fixture, top-30 terms. */
  def x65ZipfFit(s: SparkSession, dir: String): DataFrame =
    zipfFit(docs(s, dir), "text", topK = 30)

  val entries: Seq[Entry] = Seq(
    Entry("x64_corpus_diff", x64CorpusDiff _, """
      WITH nextc AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0),
      prevc AS (SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0 THEN text || ' perturbed' ELSE text END AS text
                FROM documents WHERE doc_id % 7 <> 0),
      j AS (SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
                        WHEN b.doc_id IS NULL THEN 'removed'
                        WHEN md5(a.text) = md5(b.text) THEN 'same'
                        ELSE 'changed' END AS change
            FROM prevc a FULL OUTER JOIN nextc b ON a.doc_id = b.doc_id)
      SELECT change, count(*) AS n_docs FROM j GROUP BY 1 ORDER BY change"""),
    Entry("x65_zipf_fit", x65ZipfFit _, """
      WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      c AS (SELECT tok, count(*) AS freq FROM t GROUP BY 1
            ORDER BY freq DESC, tok LIMIT 30),
      r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rank FROM c)
      SELECT count(*) AS n_terms,
             round(regr_slope(ln(freq), ln(rank)), 4) AS zipf_slope,
             round(regr_r2(ln(freq), ln(rank)), 4) AS fit_r2
      FROM r"""))
}
