package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Thirty-second extension batch — closing two training loops:
  *
  *  - tokenizer-fit report (x104): does the trained BPE actually FIT
  *    each source? Per source: subwords-per-word (the compression the
  *    tokenizer delivers there) and the fraction of token occurrences
  *    that encode to a single symbol. The go/no-go table before
  *    shipping a tokenizer trained on a mixture — a source with poor
  *    compression is underrepresented in the merge table and will eat
  *    context length at training time.
  *  - precision-targeted threshold calibration (x105): turn the x94
  *    classifier's scores into a DEPLOYABLE keep-gate — the smallest
  *    margin threshold whose running precision still clears the
  *    target, i.e. the maximum-recall operating point at that
  *    precision. The "choose the cutoff" step every filter paper
  *    hand-waves.
  */
object Extensions32 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ---- x104: tokenizer-fit report --------------------------------------------

  /** Per-group BPE fit: train-side merges are applied to the DISTINCT
    * word table ONCE (vocabulary-sized, the x73 shape), word costs
    * equi-join back onto the exploded corpus, and one hash-agg per
    * group yields occurrences, word types, subwords-per-word, and the
    * single-symbol fraction (4dp product-form rounding).
    */
  def bpeFitReport(
      corpus: DataFrame, groupCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val toks = split(lower(col(textCol)), " ")
    val words0 = Extensions.materialized(
      corpus.select(explode(toks).as("w"))
        .filter(length(col("w")) > 0).distinct()
        .select(col("w"), split(col("w"), "").as("syms")))
    val encoded = merges.foldLeft(words0) { case (words, (l, r)) =>
      words.select(col("w"),
        aggregate(col("syms"), array().cast("array<string>"), (acc, s) =>
          when(try_element_at(acc, lit(-1)) === lit(l) && s === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
          .otherwise(concat(acc, array(s)))).as("syms"))
    }
    val wordCost = encoded.select(col("w"),
      size(col("syms")).cast("long").as("n_sub"))
    corpus.select(col(groupCol).as("source"), explode(toks).as("w"))
      .filter(length(col("w")) > 0)
      .join(wordCost, Seq("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        count_distinct(col("w")).as("n_word_types"),
        sum(col("n_sub")).as("n_subwords"),
        sum(when(col("n_sub") === 1L, 1L).otherwise(0L)).as("n_single"))
      .select(col("source"), col("n_words"), col("n_word_types"),
        col("n_subwords"),
        Extensions.round4o(col("n_subwords") / col("n_words"))
          .as("subwords_per_word"),
        Extensions.round4o(col("n_single") / col("n_words"))
          .as("single_sym_frac"))
  }

  /** x104: [[bpeFitReport]] per source under the fixture's own 12-merge
    * BPE (x69's training). Oracle extends the generated merge chain
    * with the per-source aggregation.
    */
  def x104TokenizerFit(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val merges = Extensions16.fixtureMerges(s, dir).map(m => (m._2, m._3))
    bpeFitReport(d, "source", "text", merges)
  }

  private val x104OracleSql: String = Extensions16.bpeOracleChain(12) + """,
    cost AS (SELECT w, len(enc) - len(replace(enc, chr(31), '')) AS n_sub FROM w12),
    st AS (SELECT d.source, t.w, cost.n_sub
           FROM (SELECT doc_id, source FROM documents) d
           JOIN tok t USING (doc_id)
           JOIN cost USING (w))
    SELECT source,
           count(*) AS n_words,
           count(DISTINCT w) AS n_word_types,
           CAST(sum(n_sub) AS BIGINT) AS n_subwords,
           round(CAST(sum(n_sub) AS BIGINT) * 10000.0 / count(*), 0) / 10000.0
             AS subwords_per_word,
           round(sum(CASE WHEN n_sub = 1 THEN 1 ELSE 0 END) * 10000.0 / count(*), 0) / 10000.0
             AS single_sym_frac
    FROM st
    GROUP BY source
    ORDER BY source"""

  // ---- x105: precision-targeted threshold calibration ------------------------

  /** Calibrate a keep threshold from scored+labeled rows: walk
    * thresholds from the highest margin down, tracking running
    * precision; return the operating point keeping the MOST rows while
    * precision ≥ `targetPermille`/1000 (ties in margin collapse to one
    * threshold row first — running stats are computed per distinct
    * margin, so a threshold never splits equal scores).
    *
    * Output (one row): threshold_micro, n_kept, precision, recall.
    * The integer target (permille) keeps the gate comparison exact:
    * precision ≥ target ⇔ 1000·TP ≥ target·kept.
    *
    * Scale: one hash-agg to distinct margins, running counts via the
    * distributed prefix sum (the margin grid is corpus-derived — micro
    * dot products are near-unique per doc, so it is NOT a bounded score
    * grid), one top-1.
    */
  def calibrateThreshold(
      scored: DataFrame, marginCol: String, labelCol: String,
      targetPermille: Int = 900): DataFrame = {
    val perMargin = scored
      .groupBy(col(marginCol).as("margin"))
      .agg(count(lit(1)).as("n"),
        sum(col(labelCol).cast("long")).as("npos"))
    val total = scored.agg(
      sum(col(labelCol).cast("long")).as("total_pos"),
      count(lit(1)).as("total_n"))
    // round-14: distinct GD margins grow with the corpus (a micro dot
    // product is near-unique per doc), so the running kept/TP counts
    // ride GridStats.withBelow's distributed prefix sums — the former
    // unpartitioned desc window was a one-task sort of a corpus-sized
    // grid
    GridStats.withBelow(perMargin, Seq.empty, "margin", Seq("n", "npos"),
        descending = true)
      .withColumn("kept", col("below_n") + col("n"))
      .withColumn("tp", col("below_npos") + col("npos"))
      .filter(col("tp") * 1000L >= col("kept") * targetPermille)
      .orderBy(col("kept").desc, col("margin"))
      .limit(1)
      .crossJoin(broadcast(total))
      .select(col("margin").as("threshold_micro"), col("kept").as("n_kept"),
        Extensions.round4o(col("tp") / col("kept")).as("precision"),
        Extensions.round4o(col("tp") / col("total_pos")).as("recall"))
  }

  /** x105: calibrate the x94 classifier's keep threshold at 90%
    * precision on the fixture. Oracle = the x94 training replay + the
    * same running-precision walk.
    */
  def x105Calibrate(s: SparkSession, dir: String): DataFrame =
    calibrateThreshold(Extensions26.fixtureScored(s, dir),
      "margin_micro", "label", targetPermille = 900)

  private val x105OracleSql: String = {
    val F1 = Extensions26.NumBuckets + 1
    Extensions26.logregOracleChain(8) + s""",
    scored AS (
      SELECT f.doc_id, f.y AS label,
             CAST(list_sum(list_transform(generate_series(1, $F1), j -> w.w[j] * f.x[j])) AS BIGINT) AS margin
      FROM feat f, w8 w),
    pm AS (SELECT margin, count(*) AS n, CAST(sum(label) AS BIGINT) AS npos
           FROM scored GROUP BY margin),
    walk AS (SELECT margin,
                    CAST(sum(n) OVER (ORDER BY margin DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS kept,
                    CAST(sum(npos) OVER (ORDER BY margin DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp
             FROM pm),
    tot AS (SELECT CAST(sum(label) AS BIGINT) AS total_pos FROM scored)
    SELECT margin AS threshold_micro, kept AS n_kept,
           round(tp * 10000.0 / kept, 0) / 10000.0 AS "precision",
           round(tp * 10000.0 / total_pos, 0) / 10000.0 AS recall
    FROM walk, tot
    WHERE tp * 1000 >= kept * 900
    ORDER BY kept DESC, margin
    LIMIT 1"""
  }

  val entries: Seq[Entry] = Seq(
    Entry("x104_tokenizer_fit", x104TokenizerFit _, x104OracleSql),
    Entry("x105_calibrate_gate", x105Calibrate _, x105OracleSql))
}
