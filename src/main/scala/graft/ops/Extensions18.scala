package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Eighteenth extension batch — corpus shaping by model signal:
  *
  *  - CCNet-style perplexity bucketing (x74): Wenzek et al. 2020 split
  *    each language's crawl into head/middle/tail by LM perplexity and
  *    kept the head — the canonical "cheap LM as quality dial" shape.
  *    Here the LM is the corpus unigram model (x37) and the tercile
  *    boundaries are exact per-language percentiles, broadcast — never
  *    a global sort of the corpus.
  *  - epoch upsampling (x75): LLM data mixtures repeat high-value
  *    sources (wiki ×3, books ×2, web ×1). This MATERIALIZES that
  *    repetition deterministically — per-source epoch counts explode
  *    each doc into its epochs with a portable md5 shuffle key, ready
  *    for [[TrainStore.writeShards]] ordering.
  */
object Extensions18 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- x74: perplexity head/middle/tail --------------------------------------

  /** Per-language perplexity terciles over the unigram cross-entropy:
    * bucket = head (lowest third), middle, tail. Boundaries are exact
    * interpolated percentiles per language, rounded to 4dp and compared
    * strictly-above (the x52 reproducibility discipline), so any engine
    * lands every doc in the same bucket.
    *
    * Scale: scoring is [[Extensions4.unigramScore]] (one tokenize pass,
    * broadcast model); boundaries are one percentile agg per language
    * (O(langs) rows, broadcast back); bucketing is map-side. The corpus
    * is never globally sorted — same reason x52 replaced ntile.
    */
  def perplexityBuckets(
      corpus: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame = {
    val scored = corpus.select(col(idCol).as("doc_id"), col(langCol).as("lang"))
      .join(Extensions4.unigramScore(corpus, idCol, textCol), Seq("doc_id"))
    val bounds = scored.groupBy(col("lang"))
      .agg(percentile(col("cross_entropy"),
        array(lit(1.0 / 3.0), lit(2.0 / 3.0))).as("bs"))
      .select(col("lang"), transform(col("bs"), b => round(b, 4)).as("bs"))
    scored.join(broadcast(bounds), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("cross_entropy"),
        element_at(array(lit("head"), lit("middle"), lit("tail")),
          (lit(1L) + aggregate(col("bs"), lit(0L),
            (acc, b) => acc + when(col("cross_entropy") > b, 1L).otherwise(0L)))
            .cast("int")).as("bucket"))
  }

  /** x74: [[perplexityBuckets]] over the documents fixture. */
  def x74PerplexityBuckets(s: SparkSession, dir: String): DataFrame =
    perplexityBuckets(docs(s, dir), "doc_id", "text", "lang")

  private val x74OracleSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
      tf AS (SELECT doc_id, u.term, count(*) AS tf
             FROM d, UNNEST(tk) AS u(term)
             GROUP BY 1, 2),
      model AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
      n AS (SELECT sum(cnt) AS n_tok FROM model),
      scored AS (
        SELECT tf.doc_id,
               round(ln(n.n_tok * 1.0)
                     - sum(tf.tf * ln(model.cnt * 1.0)) / sum(tf.tf), 4)
                 AS cross_entropy
        FROM tf JOIN model USING (term) CROSS JOIN n
        GROUP BY tf.doc_id, n.n_tok),
      wl AS (SELECT s.doc_id, doc.lang, s.cross_entropy
             FROM scored s JOIN documents doc ON doc.doc_id = s.doc_id),
      b AS (SELECT lang, list_transform(
              quantile_cont(cross_entropy, [0.3333333333333333, 0.6666666666666666]),
              x -> round(x, 4)) AS bs
            FROM wl GROUP BY lang)
      SELECT wl.doc_id, wl.lang, wl.cross_entropy,
             (['head', 'middle', 'tail'])[
               1 + len(list_filter(b.bs, x -> wl.cross_entropy > x))] AS bucket
      FROM wl JOIN b USING (lang)
      ORDER BY wl.doc_id"""

  // ---- x75: epoch upsampling -------------------------------------------------

  /** Materialize a repetition mixture: every document appears once per
    * epoch its source is granted (`epochs`, else `defaultEpochs`), with a
    * deterministic md5 shuffle key over (id, epoch) so repeated copies
    * spread through the training order instead of clustering — feed
    * `ord_key` to [[Extensions6.trainingOrder]]/[[TrainStore]].
    *
    * Scale: map-only — a per-row literal-map lookup and a bounded
    * sequence explode (max epochs copies); no shuffle, no join. The
    * output is bigger than the corpus by design (that's the mixture);
    * the operator itself adds zero exchanges.
    */
  def epochUpsample(
      corpus: DataFrame, idCol: String, sourceCol: String,
      epochs: Map[String, Int], defaultEpochs: Int = 1): DataFrame = {
    require(defaultEpochs >= 1 && epochs.values.forall(_ >= 1),
      "epoch counts must be >= 1 (use filters, not 0 epochs, to drop sources)")
    val nEpochs = epochs.foldLeft(when(lit(false), lit(1))) {
      case (acc, (src, n)) => acc.when(col(sourceCol) === src, n)
    }.otherwise(defaultEpochs)
    corpus
      .withColumn("epoch", explode(sequence(lit(1), nEpochs)))
      .withColumn("ord_key", graft.functions.HashFunctions.md5_bucket60(
        concat(col(idCol).cast("string"), lit(":"), col("epoch").cast("string"))))
  }

  /** x75: [[epochUpsample]] with a wiki-style mixture over fixture
    * sources (src0 ×3, src1 ×2, rest ×1).
    */
  def x75EpochUpsample(s: SparkSession, dir: String): DataFrame =
    epochUpsample(docs(s, dir), "doc_id", "source",
        Map("src0" -> 3, "src1" -> 2))
      .select(col("doc_id"), col("source"), col("epoch"), col("ord_key"))

  private val x75OracleSql: String = """
      WITH e AS (SELECT doc_id, source,
                   CASE source WHEN 'src0' THEN 3
                               WHEN 'src1' THEN 2
                               ELSE 1 END AS n_epochs
                 FROM documents)
      SELECT doc_id, source, CAST(ep AS INTEGER) AS epoch,
             ('0x' || substr(md5(doc_id::VARCHAR || ':' || ep::VARCHAR), 1, 15))::BIGINT AS ord_key
      FROM e, UNNEST(generate_series(1, n_epochs)) AS t(ep)
      ORDER BY doc_id, epoch"""

  val entries: Seq[Entry] = Seq(
    Entry("x74_perplexity_buckets", x74PerplexityBuckets _, x74OracleSql),
    Entry("x75_epoch_upsample", x75EpochUpsample _, x75OracleSql))
}
