package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Fourteenth extension batch — the corpus datasheet: the one-table
  * release summary (counts, composition, diversity, naturalness) every
  * published dataset ships. Composes the corpus-level signals the other
  * batches compute piecemeal into a single tall (metric, value) frame a
  * release pipeline can diff against the previous version's datasheet
  * (via [[Extensions13.corpusDiff]]-style gating on thresholds).
  */
object Extensions14 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** The datasheet's two corpus passes, UNmaterialized (exposed for the
    * plan-shape test): pass 1 is the (lang, source, n_docs) grouped count
    * — docs/sources/langs/top-lang-share all derive from it; pass 2 is
    * the (tok, freq) table — token mass, vocabulary, and the Zipf
    * spectrum all derive from it. Each reads the corpus exactly once.
    */
  private[graft] def datasheetPasses(
      corpus: DataFrame, textCol: String, sourceCol: String,
      langCol: String): (DataFrame, DataFrame) = (
    corpus.groupBy(col(langCol).as("lang"), col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n")),
    corpus.select(explode(split(lower(col(textCol)), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq")))

  /** Corpus datasheet: docs, token mass, source/language cardinalities,
    * exact vocabulary, mean document length, majority-language share, and
    * the Zipf slope — one tall frame, deterministic, all ratios through
    * the oracle-aligned rounding.
    *
    * Scale: exactly TWO corpus scans (round-4 verdict: the previous
    * four-pass form re-read the corpus per metric family). Pass 1 is a
    * (lang, source) grouped count — langs × sources rows, from which doc
    * count, cardinalities, and top-language share are all derivable
    * without touching the corpus again. Pass 2 is the token-frequency
    * table — vocab-sized, materialized so the mass/vocab aggregate and
    * the top-K Zipf cut both read it instead of re-tokenizing. Driver
    * collects stay O(1) rows.
    */
  def datasheet(
      corpus: DataFrame, textCol: String, sourceCol: String,
      langCol: String, zipfTopK: Int = 30): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (pairsRaw, freqRaw) = datasheetPasses(corpus, textCol, sourceCol, langCol)
    val pairs = Extensions.materialized(pairsRaw) // langs×sources rows
    val freq = Extensions.materialized(freqRaw)   // vocab rows
    val rowAgg = pairs.agg(
      sum(col("n")).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"))
    val langTop = pairs.groupBy(col("lang")).agg(sum(col("n")).as("n"))
      .agg(max(struct(col("n"), col("lang"))).as("top"), sum(col("n")).as("tot"))
      .select(Extensions.round4o(col("top.n") / col("tot")).as("top_lang_share"))
    val tokAgg = freq.agg(
      sum(col("freq")).as("n_tokens"),
      count(lit(1)).as("vocab"))
    // the Zipf cut replays Extensions13.zipfFit's ranking (freq desc, tok)
    // over the SAME frequency table — top-K rows, window on K rows only
    val zipf = {
      import org.apache.spark.sql.expressions.Window
      freq.orderBy(col("freq").desc, col("tok")).limit(zipfTopK)
        .withColumn("rank", row_number()
          .over(Window.orderBy(col("freq").desc, col("tok"))).cast("long"))
        .agg(round(regr_slope(log(col("freq")), log(col("rank"))), 4).as("zipf_slope"))
    }
    val r = rowAgg.collect()(0); val t = tokAgg.collect()(0)
    val z = zipf.collect()(0); val l = langTop.collect()(0)
    val nDocs = r.getAs[Long]("n_docs")
    val nTokens = t.getAs[Long]("n_tokens")
    Seq(
      ("n_docs", nDocs.toDouble),
      ("n_tokens", nTokens.toDouble),
      ("n_sources", r.getAs[Long]("n_sources").toDouble),
      ("n_langs", r.getAs[Long]("n_langs").toDouble),
      ("vocab", t.getAs[Long]("vocab").toDouble),
      // floor(x + 0.5): half-away-from-zero on a positive value, matching
      // the oracle's round(product, 0) — math.rint would round half-even
      ("mean_doc_tokens", math.floor(nTokens * 10000.0 / nDocs + 0.5) / 10000.0),
      ("top_lang_share", l.getAs[Double]("top_lang_share")),
      ("zipf_slope", z.getAs[Double]("zipf_slope"))
    ).toDF("metric", "value")
  }

  /** x66: [[datasheet]] of the documents fixture. The driver-side
    * assembly collects O(1) aggregate rows only — the corpus never
    * leaves the executors.
    */
  def x66Datasheet(s: SparkSession, dir: String): DataFrame =
    datasheet(docs(s, dir), "text", "source", "lang")

  val entries: Seq[Entry] = Seq(
    Entry("x66_datasheet", x66Datasheet _, """
      WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      zc AS (SELECT tok, count(*) AS freq FROM t GROUP BY 1
             ORDER BY freq DESC, tok LIMIT 30),
      zr AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rank FROM zc),
      lt AS (SELECT count(*) AS n FROM documents GROUP BY lang ORDER BY n DESC LIMIT 1)
      SELECT 'n_docs' AS metric, CAST((SELECT count(*) FROM documents) AS DOUBLE) AS value
      UNION ALL SELECT 'n_tokens', (SELECT count(*) FROM t)
      UNION ALL SELECT 'n_sources', (SELECT count(DISTINCT source) FROM documents)
      UNION ALL SELECT 'n_langs', (SELECT count(DISTINCT lang) FROM documents)
      UNION ALL SELECT 'vocab', (SELECT count(DISTINCT tok) FROM t)
      UNION ALL SELECT 'mean_doc_tokens',
        round((SELECT count(*) FROM t) * 10000.0 / (SELECT count(*) FROM documents), 0) / 10000.0
      UNION ALL SELECT 'top_lang_share',
        round((SELECT n FROM lt) * 10000.0 / (SELECT count(*) FROM documents), 0) / 10000.0
      UNION ALL SELECT 'zipf_slope',
        (SELECT round(regr_slope(ln(freq), ln(rank)), 4) FROM zr)
      ORDER BY metric"""))
}
