package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Seventh extension batch — curation economics: centroid-density pruning
  * (the SemDeDup/D4-shaped "drop the most prototypical members of each
  * semantic cluster" pass), per-document novelty scoring against a
  * training corpus (the per-doc form of the x20 contamination check), and
  * the length-bucketed padding-efficiency report (what bucketed batching
  * saves over global-max padding — the number that justifies x36/x23
  * chunk-and-pack pipelines).
  */
object Extensions7 {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  // ---- centroid-density pruning ----------------------------------------------

  /** Semantic-density pruning: bucket vectors into sign-hash cells, rank
    * each cell's members by cosine similarity to the CELL CENTROID
    * (rounded before ranking, id tie-break), and drop the closest
    * `dropNum/dropDen` fraction — the members nearest the centroid are the
    * cluster's most redundant representatives (D4/SemDeDup's
    * prototypicality signal). Returns every row with its cell, similarity,
    * rank, and the keep verdict, so callers can audit the decision table
    * rather than just receive survivors.
    *
    * Drop fraction is an exact rational (`rk·den > n·num` in integers) —
    * no float threshold to disagree across engines.
    *
    * Scale: cells are the parallelism unit (sign-bucket width sizes cells
    * via [[Extensions.signBitsFor]]). Centroids cost one (cell, dim)
    * partial-aggregated mean — never a per-cell collect — and broadcast
    * back at O(cells·dim). The per-cell rank is a genuine per-cell sort
    * (each member needs its rank, so a window is the right tool here, not
    * `max_by`); cell size is bounded by the quantizer width, so no
    * single sort exceeds the target cell size.
    */
  def densityPrune(
      corpus: DataFrame, idCol: String, vecCol: String,
      signBits: Int, dropNum: Int = 1, dropDen: Int = 4): DataFrame = {
    require(dropNum >= 0 && dropDen > 0 && dropNum <= dropDen,
      s"drop fraction $dropNum/$dropDen must be a rational in [0, 1]")
    val base = Extensions.materialized(
      corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        Extensions.signBucket(col(vecCol), signBits).as("cell")))
    val cent = base
      .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim"))
      .agg(avg(col("x")).as("m"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("dim"), col("m")))).as("ps"))
      .select(col("cell"), transform(col("ps"), p => p.getField("m")).as("cvec"))
    val w = Window.partitionBy(col("cell"))
    base.join(broadcast(cent), Seq("cell"))
      .withColumn("sim",
        round(Extensions.cosineHof(col("v"), col("cvec")), 4))
      .withColumn("rk", row_number()
        .over(w.orderBy(col("sim").desc, col("vec_id"))).cast("long"))
      .withColumn("n", count(lit(1)).over(w))
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("sim"), col("rk"),
        (col("rk") * dropDen > col("n") * dropNum).as("keep"))
  }

  /** x48: [[densityPrune]] of the fixture embeddings — 16 sign cells,
    * drop the most-central quarter of each.
    */
  def x48DensityPrune(s: SparkSession, dir: String): DataFrame =
    densityPrune(emb(s, dir), "vec_id", "embedding", signBits = 4)

  // ---- per-document novelty vs a training corpus -----------------------------

  /** Per-document novelty against a reference corpus: the fraction of the
    * document's distinct shingles NOT present anywhere in `train`. The
    * per-doc form of [[Extensions2]]'s x20 contamination pairs — 1.0 means
    * genuinely unseen text, 0.0 means every n-gram already exists in
    * training data (evaluation-set leakage, or a doc worth dropping from
    * a held-out split).
    *
    * Scale: the train side collapses to DISTINCT 8-byte shingle keys
    * before the join (one hash-agg); the eval↔train match is an
    * inverted-index equi-join on those keys — work scales with shingle
    * postings, never |eval|×|train|. The left join (not semi) keeps
    * unseen shingles so one grouped count yields both totals.
    */
  def noveltyScore(
      train: DataFrame, eval: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 5): DataFrame = {
    val trainSh = train
      .select(split(lower(col(textCol)), " ").as("tk0"))
      .select(explode(Extensions.shinglesFromToks(col("tk0"), shingleSize)).as("sh"))
      .select(xxhash64(col("sh")).as("shk")).distinct()
      .withColumn("seen", lit(1L))
    eval
      .select(col(idCol).as("doc_id"), split(lower(col(textCol)), " ").as("tk0"))
      .select(col("doc_id"),
        explode(Extensions.shinglesFromToks(col("tk0"), shingleSize)).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("shk")).distinct()
      .join(trainSh, Seq("shk"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sh"),
        coalesce(sum(col("seen")), lit(0L)).as("n_seen"))
      .select(col("doc_id"), col("n_sh"), col("n_seen"),
        Extensions.round4o((col("n_sh") - col("n_seen")) / col("n_sh")).as("novelty"))
  }

  /** x49: [[noveltyScore]] of every 10th fixture document against the
    * other 90% — a held-out-split leakage audit.
    */
  def x49NoveltyScore(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    noveltyScore(
      d.filter(pmod(col("doc_id"), lit(10L)) =!= 0L),
      d.filter(pmod(col("doc_id"), lit(10L)) === 0L),
      "doc_id", "text")
  }

  // ---- padding-efficiency report ---------------------------------------------

  /** Length-bucketed padding report: assign each document to the token
    * bucket `ceil(n_tokens / width) · width`, and per bucket report the
    * document count, real token count, padded capacity (docs × bucket
    * ceiling), and the padding waste fraction. The final row aggregates
    * the corpus under GLOBAL max-length padding for comparison — the
    * difference is what bucketed batching saves. All counts are exact
    * integers; the two waste fractions are each one division.
    *
    * Scale: one map stage (token count + bucket arithmetic) into a
    * bucket-cardinality hash-agg, then an O(buckets) single-row rollup
    * for the global line. 100 TB costs one scan.
    */
  def paddingReport(
      corpus: DataFrame, idCol: String, textCol: String,
      bucketWidth: Int = 64): DataFrame = {
    val n = size(split(lower(col(textCol)), " ")).cast("long")
    val bucketed = corpus
      .select((ceil(n / lit(bucketWidth.toDouble)) * bucketWidth)
        .cast("long").as("len_bucket"), n.as("n_tokens"))
      .groupBy(col("len_bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("capacity", col("n_docs") * col("len_bucket"))
    val global = bucketed.agg(
        max(col("len_bucket")).as("gmax"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("sum_tokens")).as("sum_tokens"))
      .select(lit(-1L).as("len_bucket"), col("n_docs"), col("sum_tokens"),
        (col("n_docs") * col("gmax")).as("capacity"))
    bucketed.unionByName(global)
      .withColumn("pad_frac",
        Extensions.round4o(lit(1.0) - col("sum_tokens") / col("capacity")))
  }

  /** x50: [[paddingReport]] of the documents fixture at bucket width 64.
    * The `len_bucket = -1` row is the global-max-padding baseline.
    */
  def x50PaddingReport(s: SparkSession, dir: String): DataFrame =
    paddingReport(docs(s, dir), "doc_id", "text")

  val entries: Seq[Entry] = Seq(
    Entry("x48_density_prune", x48DensityPrune _, """
      WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
             + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
             + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
             + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS cell
        FROM embeddings),
      dims AS (SELECT cell, i, avg(v[i]) AS m
               FROM base, UNNEST(generate_series(1, len(v))) AS g(i)
               GROUP BY 1, 2),
      cent AS (SELECT cell, list(m ORDER BY i) AS cvec FROM dims GROUP BY 1),
      scored AS (SELECT vec_id, base.cell,
                        round(list_cosine_similarity(v, cvec), 4) AS sim
                 FROM base JOIN cent USING (cell)),
      ranked AS (SELECT *,
                        row_number() OVER (PARTITION BY cell ORDER BY sim DESC, vec_id) AS rk,
                        count(*) OVER (PARTITION BY cell) AS n
                 FROM scored)
      SELECT vec_id, CAST(cell AS BIGINT) AS cell, sim, rk,
             rk * 4 > n * 1 AS keep
      FROM ranked ORDER BY vec_id"""),
    Entry("x49_novelty_score", x49NoveltyScore _, """
      WITH tr AS (SELECT string_split(lower(text), ' ') AS toks
                  FROM documents WHERE doc_id % 10 <> 0),
      trsh AS (SELECT DISTINCT array_to_string(toks[i:i+4], ' ') AS sh
               FROM tr, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      ev AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
             FROM documents WHERE doc_id % 10 = 0),
      evsh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
                FROM ev, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      evsh AS (SELECT DISTINCT doc_id, sh FROM evsh0)
      SELECT evsh.doc_id, count(*) AS n_sh,
             CAST(coalesce(sum(CASE WHEN trsh.sh IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_seen,
             round((count(*) - coalesce(sum(CASE WHEN trsh.sh IS NOT NULL THEN 1 END), 0)) * 1.0
                   / count(*), 4) AS novelty
      FROM evsh LEFT JOIN trsh ON evsh.sh = trsh.sh
      GROUP BY 1 ORDER BY 1"""),
    Entry("x50_padding_report", x50PaddingReport _, """
      WITH d AS (SELECT CAST(ceil(len(string_split(lower(text), ' ')) / 64.0) * 64 AS BIGINT) AS len_bucket,
                        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
                 FROM documents),
      b AS (SELECT len_bucket, count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                   count(*) * len_bucket AS capacity
            FROM d GROUP BY 1),
      g AS (SELECT CAST(-1 AS BIGINT) AS len_bucket,
                   CAST(sum(n_docs) AS BIGINT) AS n_docs,
                   CAST(sum(sum_tokens) AS BIGINT) AS sum_tokens,
                   CAST(sum(n_docs) AS BIGINT) * max(len_bucket) AS capacity
            FROM b)
      SELECT len_bucket, n_docs, sum_tokens, capacity,
             round(1.0 - sum_tokens * 1.0 / capacity, 4) AS pad_frac
      FROM (SELECT * FROM b UNION ALL SELECT * FROM g)
      ORDER BY len_bucket"""))
}
