package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-fourth extension batch — the vocabulary budget and the
  * representation drift check (the unigram quality prior this batch
  * once carried was a duplicate of x37's unigramScore / x74's
  * perplexity buckets and was removed):
  *
  *  - OOV-rate curve (x235): for each candidate vocabulary size V,
  *    the share of token INSTANCES falling outside the top-V types —
  *    the tokenizer-sizing decision (vocab vs UNK rate) priced on the
  *    actual corpus, ranked by [[Rank.globalRank]] so the type table
  *    never passes through a single-partition window.
  *  - embedding centroid drift (x237): per label, the cosine between
  *    the even-id and odd-id snapshot centroids + the norm ratio — the
  *    "did the embedding space move between releases" check, exact
  *    under component micro-quantization (cosine is scale-invariant,
  *    so INTEGER component sums stand in for the mean vectors).
  *
  * Determinism discipline: the OOV shares and cosines render half-away
  * from integer sums; type ranking ties break on the token string.
  */
object Extensions104 {

  // ---- x235: OOV-rate curve -----------------------------------------------------

  /** Per candidate vocab size: (vocab_size, n_types, oov_instances,
    * total_instances, oov_share). Types rank by (count desc, token asc)
    * — a total order, computed with [[Rank.globalRank]]'s distributed
    * order statistics (the type table is corpus-derived: millions of
    * rows at 100 TB, exactly what must not hit a global window).
    */
  def oovCurve(
      corpus: DataFrame, textCol: String,
      vocabSizes: Seq[Long] = Seq(256L, 512L, 1024L, 2048L, 4096L, 8192L)): DataFrame = {
    require(vocabSizes.nonEmpty)
    val spark = corpus.sparkSession
    import spark.implicits._
    val counts = corpus
      .select(explode(split(lower(col(textCol)), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val ranked = Rank.globalRank(counts, Seq("c", "tok"), Seq(true, false),
      parts = 8, tiles = 1)
      .select(col("tok"), col("c"), col("rn").as("rank"))
    val totals = ranked.agg(count(lit(1)).as("n_types"),
      sum(col("c")).cast("long").as("total"))
    val spine = vocabSizes.sorted.toDF("vocab_size")
    ranked.crossJoin(broadcast(spine))
      .groupBy(col("vocab_size"))
      .agg(sum(when(col("rank") > col("vocab_size"), col("c")).otherwise(0L))
        .as("oov_instances"))
      .crossJoin(broadcast(totals))
      .select(col("vocab_size"), col("n_types"), col("oov_instances"),
        col("total").as("total_instances"),
        expr("((oov_instances * 10000 * 2 + total) DIV (2 * total)) / 10000.0D")
          .as("oov_share"))
  }

  /** x235: size the tokenizer vocabulary against the fixture corpus. */
  def x235OovCurve(s: SparkSession, dir: String): DataFrame =
    oovCurve(Tables.load(s, dir, "documents"), "text")

  private val x235OracleSql: String = """
      WITH tk AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
                  FROM documents),
      cnt AS (SELECT tok, count(*) AS c FROM tk WHERE len(tok) > 0 GROUP BY tok),
      rk AS (SELECT tok, c, row_number() OVER (ORDER BY c DESC, tok) AS rank FROM cnt),
      tot AS (SELECT count(*) AS n_types, CAST(sum(c) AS BIGINT) AS total FROM rk),
      spine AS (SELECT * FROM (VALUES (256), (512), (1024), (2048), (4096), (8192))
                AS t(vocab_size))
      SELECT CAST(vocab_size AS BIGINT) AS vocab_size, tot.n_types,
             CAST(sum(CASE WHEN rk.rank > vocab_size THEN rk.c ELSE 0 END) AS BIGINT)
               AS oov_instances,
             tot.total AS total_instances,
             ((CAST(sum(CASE WHEN rk.rank > vocab_size THEN rk.c ELSE 0 END) AS BIGINT)
               * 10000 * 2 + tot.total) // (2 * tot.total)) / 10000.0 AS oov_share
      FROM rk CROSS JOIN spine CROSS JOIN tot
      GROUP BY vocab_size, tot.n_types, tot.total
      ORDER BY vocab_size"""

  // ---- x237: embedding centroid drift -------------------------------------------

  /** Per label: rows in each snapshot (even vs odd vec_id — the fixture
    * stand-in for two releases), cosine between the snapshot centroids,
    * and the centroid norm ratio. Components micro-quantize to 1e-4
    * integers; cosine is scale-invariant, so the INTEGER per-dimension
    * sums replace the mean vectors exactly — no float accumulation
    * order anywhere.
    *
    * Scale: one explode to (row, dim) — 64× the row count, narrow —
    * then hash-aggs to O(labels × dims); the pairwise reduction is
    * dimension-sized.
    */
  def centroidDrift(
      emb: DataFrame, idCol: String, vecCol: String, labelCol: String): DataFrame = {
    val q = emb.select(col(labelCol).as("label"),
        (pmod(col(idCol), lit(2L)) === 0L).as("prev"),
        posexplode(col(vecCol)).as(Seq("dim", "comp")))
      .select(col("label"), col("prev"), col("dim"),
        round(col("comp").cast("double") * lit(1e4), 0).cast("long").as("qc"))
    val sums = q.groupBy(col("label"), col("prev"), col("dim"))
      .agg(sum(col("qc")).as("s"))
    val wide = sums.groupBy(col("label"), col("dim"))
      .agg(sum(when(col("prev"), col("s")).otherwise(0L)).as("sp"),
        sum(when(!col("prev"), col("s")).otherwise(0L)).as("sn"))
    val counts = emb.groupBy(col(labelCol).as("label"))
      .agg(sum(when(pmod(col(idCol), lit(2L)) === 0L, 1L).otherwise(0L)).as("n_prev"),
        sum(when(pmod(col(idCol), lit(2L)) =!= 0L, 1L).otherwise(0L)).as("n_next"))
    wide.groupBy(col("label"))
      .agg(sum(col("sp") * col("sn")).as("dot"),
        sum(col("sp") * col("sp")).as("pp"),
        sum(col("sn") * col("sn")).as("nn"))
      .join(counts, Seq("label"))
      .select(col("label"), col("n_prev"), col("n_next"),
        Extensions.round4o(col("dot").cast("double") /
          (sqrt(col("pp").cast("double")) * sqrt(col("nn").cast("double"))))
          .as("centroid_cosine"),
        Extensions.round4o((sqrt(col("nn").cast("double")) * col("n_prev")) /
          (sqrt(col("pp").cast("double")) * col("n_next"))).as("norm_ratio"))
  }

  /** x237: did the space move between the fixture's two half-corpora? */
  def x237CentroidDrift(s: SparkSession, dir: String): DataFrame =
    centroidDrift(
      Tables.load(s, dir, "embeddings"), "vec_id", "embedding", "label")

  private val x237OracleSql: String = """
      WITH q AS (SELECT label, vec_id % 2 = 0 AS prev, g.i AS dim,
                   CAST(round(CAST(embedding[g.i] AS DOUBLE) * 1e4, 0) AS BIGINT) AS qc
                 FROM embeddings,
                   UNNEST(generate_series(1, len(embedding))) AS g(i)),
      sums AS (SELECT label, prev, dim, CAST(sum(qc) AS BIGINT) AS s
               FROM q GROUP BY 1, 2, 3),
      wide AS (SELECT label, dim,
                 CAST(sum(CASE WHEN prev THEN s ELSE 0 END) AS BIGINT) AS sp,
                 CAST(sum(CASE WHEN NOT prev THEN s ELSE 0 END) AS BIGINT) AS sn
               FROM sums GROUP BY 1, 2),
      red AS (SELECT label, CAST(sum(sp * sn) AS BIGINT) AS dot,
                CAST(sum(sp * sp) AS BIGINT) AS pp,
                CAST(sum(sn * sn) AS BIGINT) AS nn
              FROM wide GROUP BY label),
      cnt AS (SELECT label,
                CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_prev,
                CAST(sum(CASE WHEN vec_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_next
              FROM embeddings GROUP BY label)
      SELECT red.label, cnt.n_prev, cnt.n_next,
             round(dot / (sqrt(CAST(pp AS DOUBLE)) * sqrt(CAST(nn AS DOUBLE)))
               * 10000.0, 0) / 10000.0 AS centroid_cosine,
             round((sqrt(CAST(nn AS DOUBLE)) * cnt.n_prev)
               / (sqrt(CAST(pp AS DOUBLE)) * cnt.n_next) * 10000.0, 0) / 10000.0
               AS norm_ratio
      FROM red JOIN cnt ON cnt.label = red.label
      ORDER BY red.label"""

  val entries: Seq[Entry] = Seq(
    Entry("x235_oov_curve", x235OovCurve _, x235OracleSql),
    Entry("x237_centroid_drift", x237CentroidDrift _, x237OracleSql))
}
