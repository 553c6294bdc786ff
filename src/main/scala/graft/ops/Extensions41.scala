package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Forty-first extension batch — denoising-objective data prep:
  *
  *  - span corruption (x117): the T5/UL2 denoising pair generator
  *    (Raffel et al. 2020 §3.1.4) — mask ~15% of each document in
  *    contiguous spans, emit (input with sentinel tokens, target that
  *    restores the spans). The engine's deterministic twist: "random"
  *    span selection is the portable md5 hash of (doc_id, block), so
  *    the corruption is a pure function of the corpus — reproducible
  *    across retries, partitionings, and engines (no RNG state), and
  *    the whole generator replays in SQL.
  */
object Extensions41 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Span-corruption pairs: tokens partition into fixed `spanLen`
    * blocks; block b of doc d masks iff md5(d:b) lands under
    * `maskPermille`. Masked blocks become `<extra_id_k>` sentinels
    * (k = masked-block ordinal) in the input; the target lists each
    * sentinel followed by its original tokens. Fixed-block selection
    * keeps spans non-overlapping BY CONSTRUCTION — no sequential scan,
    * so the generator is embarrassingly parallel.
    *
    * Shape: one corpus scan explodes per-block rows (≤ tokens/spanLen
    * per doc), ONE doc-key hash-agg collects the ordered block list,
    * and a single `aggregate` fold builds both strings with the
    * running sentinel counter riding in the accumulator struct —
    * map-side codegen, no window over the corpus, no per-doc
    * quadratic work.
    */
  def spanCorruptionPairs(
      corpus: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 3, maskPermille: Int = 150): DataFrame = {
    val ct = filter(split(lower(col(textCol)), " "), t => length(t) > 0)
    val blocks = corpus
      .select(col(idCol).as("doc_id"), ct.as("ct"))
      .filter(size(col("ct")) >= 1)
      .select(col("doc_id"), size(col("ct")).cast("long").as("n_tokens"),
        explode(sequence(lit(0L),
          ceil(size(col("ct")) / lit(spanLen.toDouble)).cast("long") - 1L)).as("b"),
        col("ct"))
      .select(col("doc_id"), col("n_tokens"), col("b"),
        concat_ws(" ",
          slice(col("ct"), (col("b") * spanLen + 1L).cast("int"), lit(spanLen))).as("btoks"),
        size(slice(col("ct"), (col("b") * spanLen + 1L).cast("int"), lit(spanLen)))
          .cast("long").as("bsz"),
        (pmod(graft.functions.HashFunctions.md5_bucket60(
          concat(col("doc_id").cast("string"), lit(":"), col("b").cast("string"))),
          lit(1000L)) < maskPermille).as("masked"))
    val acc0 = struct(lit("").as("inp"), lit("").as("tgt"), lit(0L).as("k"))
    def fold(arr: Column): Column =
      aggregate(arr, acc0, (acc, x) => {
        val masked = x.getField("masked")
        val sentinel = concat(lit("<extra_id_"),
          acc.getField("k").cast("string"), lit(">"))
        struct(
          concat(acc.getField("inp"), lit(" "),
            when(masked, sentinel).otherwise(x.getField("btoks"))).as("inp"),
          when(masked,
            concat(acc.getField("tgt"), lit(" "), sentinel, lit(" "),
              x.getField("btoks")))
            .otherwise(acc.getField("tgt")).as("tgt"),
          (acc.getField("k") + when(masked, 1L).otherwise(0L)).as("k"))
      })
    blocks.groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        sum(when(col("masked"), 1L).otherwise(0L)).as("n_spans"),
        sum(when(col("masked"), col("bsz")).otherwise(0L)).as("n_masked_tokens"),
        sort_array(collect_list(
          struct(col("b"), col("masked"), col("btoks")))).as("bl"))
      .withColumn("f", fold(col("bl")))
      .select(col("doc_id"), col("n_tokens"), col("n_spans"),
        col("n_masked_tokens"),
        ltrim(col("f.inp")).as("input_text"),
        ltrim(col("f.tgt")).as("target_text"))
  }

  /** x117: span-corruption pairs over the documents fixture (3-token
    * blocks, 15% mask rate).
    */
  def x117SpanCorruption(s: SparkSession, dir: String): DataFrame =
    spanCorruptionPairs(docs(s, dir), "doc_id", "text")

  private val x117OracleSql: String = """
      WITH d AS (SELECT doc_id,
                        list_filter(string_split(lower(text), ' '), t -> t <> '') AS ct
                 FROM documents),
      b AS (SELECT doc_id, CAST(len(ct) AS BIGINT) AS n_tokens, bb.b AS b,
                   array_to_string(ct[bb.b*3+1 : bb.b*3+3], ' ') AS btoks,
                   CAST(len(ct[bb.b*3+1 : bb.b*3+3]) AS BIGINT) AS bsz,
                   ('0x' || substr(md5(doc_id || ':' || bb.b), 1, 15))::BIGINT % 1000 < 150 AS masked
            FROM d, LATERAL unnest(generate_series(0, CAST(ceil(len(ct) / 3.0) AS BIGINT) - 1)) AS bb(b)
            WHERE len(ct) >= 1),
      k AS (SELECT *, CAST(coalesce(sum(CASE WHEN masked THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS k
            FROM b)
      SELECT doc_id, max(n_tokens) AS n_tokens,
             CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
             CAST(sum(CASE WHEN masked THEN bsz ELSE 0 END) AS BIGINT) AS n_masked_tokens,
             string_agg(CASE WHEN masked THEN '<extra_id_' || k || '>' ELSE btoks END,
                        ' ' ORDER BY b) AS input_text,
             coalesce(string_agg(CASE WHEN masked THEN '<extra_id_' || k || '> ' || btoks END,
                                 ' ' ORDER BY b), '') AS target_text
      FROM k
      GROUP BY doc_id
      ORDER BY doc_id"""

  val entries: Seq[Entry] = Seq(
    Entry("x117_span_corruption", x117SpanCorruption _, x117OracleSql))
}
