package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-thirty-ninth extension batch — two detector cards the
  * LLM-data brief names and the inventory lacked:
  *
  *  - MIN-K% PROB membership score (x316): Shi et al. 2023's
  *    pretraining-data detector — per document, the mean surprisal of
  *    its k% least-probable tokens under the corpus unigram LM. A low
  *    score says every token of the document is familiar (the
  *    memorization / contamination signature); outlier-rare tokens
  *    can't mask it because only the TAIL is averaged.
  *  - ALIGNMENT / UNIFORMITY card (x317): Wang & Isola 2020's two
  *    embedding-quality functionals — alignment = mean squared
  *    distance of same-label pairs (want small), uniformity =
  *    ln E[exp(−2‖x−y‖²)] over pairs (want negative/large-spread) —
  *    both over the md5 top-C node sample, whose pair volume is a
  *    corpus-invariant constant by construction.
  *
  * Determinism: x316 quantizes surprisal per TYPE (micro-nats) before
  * any per-doc selection, so the tail sum is exact integers (equal
  * values are interchangeable at the k-boundary); x317 quantizes
  * squared distances and each exp term to micro before the means, and
  * only the final ln is a micro-rounded double.
  *
  * Scale: x316 is one type hash-agg + one token→type join + a per-doc
  * bounded sort (document length); x317's pair volume is the md5
  * budget, not n² — both corpus passes are single scans.
  */
object Extensions139 {

  // ---- x316: Min-K% Prob membership score -------------------------------------------

  /** Per-document Min-K% surprisal: (doc_id, n_tok, mink_micro) —
    * mean of the ⌈kPermille·n/1000⌉ largest token surprisals
    * round(10⁶·ln(T/cnt)) under the corpus unigram model, half-up
    * micro-nats. Ordered by doc_id.
    */
  def minKProb(
      corpus: DataFrame, idCol: String, textCol: String,
      kPermille: Int = 200): DataFrame = {
    require(kPermille >= 1 && kPermille <= 1000)
    val toks = corpus.select(col(idCol).cast("long").as("doc_id"),
        explode(filter(split(lower(col(textCol)), " "),
          t => length(t) > 0)).as("tok"))
    val tf = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = tf.agg(sum(col("cnt")).as("tt"))
    val surp = tf.crossJoin(broadcast(tot))
      .select(col("tok"),
        round(lit(1e6) * log(col("tt") / col("cnt")), 0).cast("long")
          .as("s"))
    toks.join(surp, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tok"),
        reverse(array_sort(collect_list(col("s")))).as("ss"))
      .withColumn("k", expr(s"(n_tok * $kPermille + 999) DIV 1000"))
      .select(col("doc_id"), col("n_tok"),
        expr("CAST((aggregate(slice(ss, 1, CAST(k AS INT)), 0L, (a, b) -> a + b)" +
          " * 2 + k) DIV (2 * k) AS BIGINT)").as("mink_micro"))
  }

  /** x316: the documents table under its own unigram model — the
    * contamination-family detector beside n-gram overlap (x20) and
    * perplexity buckets (x74).
    */
  def x316MinKProb(s: SparkSession, dir: String): DataFrame =
    minKProb(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x316OracleSql: String = """
      WITH d AS (SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS tk
           FROM documents),
      tks AS (SELECT doc_id, u.tok FROM d, UNNEST(tk) AS u(tok)),
      tf AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM tks GROUP BY tok),
      tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tt FROM tf),
      surp AS (SELECT tok,
                 CAST(round(1e6 * ln(tt * 1.0 / cnt), 0) AS BIGINT) AS s
               FROM tf, tot),
      per AS (SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
                list_reverse_sort(list(sp.s)) AS ss
              FROM tks t JOIN surp sp ON sp.tok = t.tok
              GROUP BY t.doc_id),
      kk AS (SELECT doc_id, n_tok, ss,
               (n_tok * 200 + 999) // 1000 AS k
             FROM per)
      SELECT doc_id, n_tok,
             CAST((list_aggregate(ss[1:k], 'sum') * 2 + k) // (2 * k) AS BIGINT)
               AS mink_micro
      FROM kk ORDER BY doc_id"""

  // ---- x317: alignment / uniformity card ----------------------------------------------

  /** One-row embedding-quality card: (n_align_pairs, n_unif_pairs,
    * align_micro, unif_micro) — alignment = mean micro-quantized
    * squared L2 distance over same-label sample pairs; uniformity =
    * round(10⁶·ln(mean exp(−2d²))) over all sample pairs, each exp
    * term micro-quantized first. The sample is the `sampleCap`
    * md5-lowest ids (the x285 pivot draw) — pair volume is capped at
    * C²/2 FOREVER, so the card's cost is corpus-invariant after one
    * linear top-C pass (a permille HASH filter would keep the pair
    * table quadratic, just at p² rate — the x241 trap). Vectors are
    * micro-quantized dimension-wise before any distance, so d² is
    * exact integer arithmetic (the x169 discipline).
    */
  def alignmentUniformity(
      emb: DataFrame, idCol: String, vecCol: String, labelCol: String,
      sampleCap: Int = 400): DataFrame = {
    require(sampleCap >= 2 && sampleCap <= 4000)
    val q = Extensions.materialized(
      emb.select(col(idCol).cast("long").as("id"),
          transform(col(vecCol), v => round(v.cast("double") * 1e6, 0).cast("long"))
            .as("v"),
          col(labelCol).cast("long").as("lb"))
        .orderBy(md5(col("id").cast("string")), col("id"))
        .limit(sampleCap))
    val pairs = q.as("a").join(q.as("b"), col("a.id") < col("b.id"))
      .select(col("a.lb").as("la"), col("b.lb").as("lc"),
        aggregate(zip_with(col("a.v"), col("b.v"), (x, y) => (x - y) * (x - y)),
          lit(0L), _ + _).as("d2"))
    // d² is micro²-scaled; normalize to micro (÷1e6, half-up) before
    // the means so the exp argument is the true squared distance
    val terms = pairs
      .withColumn("d2m", expr("(d2 * 2 + 1000000) DIV (2 * 1000000)"))
      .withColumn("et",
        round(lit(1e6) * exp(lit(-2.0) * col("d2m") / lit(1e6)), 0)
          .cast("long"))
    terms.agg(
        sum(when(col("la") === col("lc"), 1L).otherwise(0L)).as("na"),
        count(lit(1)).as("nu"),
        sum(when(col("la") === col("lc"), col("d2m")).otherwise(0L)
          .cast("decimal(38,0)")).as("sa"),
        sum(col("et").cast("decimal(38,0)")).as("se"))
      .select(col("na").as("n_align_pairs"), col("nu").as("n_unif_pairs"),
        expr("CAST((sa * 2 + na) DIV (2 * na) AS BIGINT)").as("align_micro"),
        (round(lit(1e6) *
          log(greatest(col("se").cast("double"), lit(1.0)) /
            (col("nu") * lit(1e6))), 0))
          .cast("long").as("unif_micro"))
  }

  /** x317: the fixture embeddings' representation-quality readout —
    * the geometry complement to x308's label agreement.
    */
  def x317AlignUniformity(s: SparkSession, dir: String): DataFrame =
    alignmentUniformity(Tables.load(s, dir, "embeddings"),
      "vec_id", "embedding", "label")

  private val x317OracleSql: String = """
      WITH q AS (SELECT vec_id AS id,
             list_transform(embedding::DOUBLE[],
               v -> CAST(round(v * 1e6, 0) AS BIGINT)) AS v,
             CAST(label AS BIGINT) AS lb
           FROM embeddings),
      sq AS (SELECT * FROM q ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 400),
      prs AS (SELECT a.lb AS la, b.lb AS lc,
                CAST(list_sum(list_transform(generate_series(1, len(a.v)),
                  i -> (a.v[i] - b.v[i]) * (a.v[i] - b.v[i]))) AS BIGINT) AS d2
              FROM sq a JOIN sq b ON a.id < b.id),
      t AS (SELECT la, lc, (d2 * 2 + 1000000) // (2 * 1000000) AS d2m FROM prs),
      t2 AS (SELECT la, lc, d2m,
               CAST(round(1e6 * exp(-2.0 * d2m / 1e6), 0) AS BIGINT) AS et
             FROM t),
      ag AS (SELECT CAST(sum(CASE WHEN la = lc THEN 1 ELSE 0 END) AS BIGINT) AS na,
                    CAST(count(*) AS BIGINT) AS nu,
                    CAST(sum(CASE WHEN la = lc THEN d2m ELSE 0 END) AS HUGEINT) AS sa,
                    CAST(sum(et) AS HUGEINT) AS se
             FROM t2)
      SELECT na AS n_align_pairs, nu AS n_unif_pairs,
             CAST((sa * 2 + na) // (2 * na) AS BIGINT) AS align_micro,
             CAST(round(1e6 * ln(greatest(CAST(se AS DOUBLE), 1.0) / (nu * 1e6)), 0) AS BIGINT)
               AS unif_micro
      FROM ag"""

  val entries: Seq[Entry] = Seq(
    Entry("x316_min_k_prob", x316MinKProb _, x316OracleSql),
    Entry("x317_align_uniformity", x317AlignUniformity _, x317OracleSql))
}
