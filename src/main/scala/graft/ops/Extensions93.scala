package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables
import graft.functions.HashFunctions

/** Ninety-third extension batch — sample it right, catch the leak,
  * watch the mix:
  *
  *  - stratified Neyman sample (x212): exact per-stratum quotas
  *    allocated ∝ n_h·s_h (Neyman 1934 — variance-optimal for a fixed
  *    budget), drawn deterministically by md5 order within each
  *    stratum. The eval-set and labeling-batch sampler: uniform
  *    sampling over-draws the big homogeneous stratum and starves the
  *    small variable one.
  *  - cross-lingual duplicate audit (x213): near-dup pairs whose two
  *    docs carry DIFFERENT language tags — translated boilerplate and
  *    mislabeled-language leakage that per-language dedup silently
  *    misses (CCNet processes languages separately; this is the seam
  *    between them).
  *  - source-mix KL drift (x214): release-over-release KL divergence
  *    of the corpus source mixture with add-half smoothing — x184
  *    reads what happened to the TOKENS, this reads what happened to
  *    the sampling weights a mixture was tuned against.
  *
  * Determinism discipline: x212 quantizes each stratum's std to
  * integer units before the quota arithmetic (round-before-use) and
  * allocates by half-away division in 128-bit (budget·n_h·s_h is a
  * product of corpus-scale counts — the x162 DECIMAL/HUGEINT rule);
  * x213 inherits the x02 4dp-round-before-threshold contract; x214
  * micro-quantizes each source's contribution before the long total.
  */
object Extensions93 {

  // ---- x212: stratified Neyman sample ------------------------------------------

  /** Draw ~`budget` rows with per-stratum quotas ∝ n_h·s_h (s_h = the
    * stratum's sample std of `valueCol`, quantized to integer units;
    * single-row strata weight 0 and contribute nothing). Selection
    * within a stratum is the quota smallest by (md5(id), id) — a
    * deterministic shuffle, so the draw is a pure function of the
    * corpus. Output: (id, stratum, rk, quota).
    *
    * Quotas round half-away independently, so Σ quota_h may differ
    * from `budget` by O(strata) — the standard allocation remainder.
    *
    * Scale: one stratum hash-agg for the moments, a 1-row total
    * broadcast, one per-stratum ranking window (partitioned — each
    * stratum sorts in parallel), one filter. Quota arithmetic runs in
    * DECIMAL(38,0): budget·n_h·s_h wraps a long at 100 TB counts.
    */
  def stratifiedSample(
      corpus: DataFrame, idCol: String, stratumCol: String,
      valueCol: String, budget: Long): DataFrame = {
    require(budget > 0)
    val per = corpus
      .select(col(stratumCol).as("h"), col(valueCol).cast("long").as("v"))
      .groupBy(col("h"))
      // width audit (r12): the quota arithmetic below already ran in
      // DECIMAL(38,0); the VARIANCE feeding it did not — Σv² and
      // n·Σv² − (Σv)² wrap a long once a stratum holds ~1e5+ rows of
      // 1e6-scale values. Same decimal discipline, same output types
      // (s0 renders back to a long std).
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("v").cast("decimal(38,0)") * col("v")).as("svv"))
      .withColumn("s0", when(col("n") > 1L,
        round(sqrt((col("n") * col("svv")
          - col("sv").cast("decimal(38,0)") * col("sv")).cast("double") /
          (col("n").cast("double") * (col("n") - 1L))), 0).cast("long"))
        .otherwise(lit(0L)))
      .withColumn("w", col("n").cast("decimal(38,0)") * col("s0"))
    val tot = per.agg(sum(col("w")).as("wt"))
    val quotas = per.crossJoin(broadcast(tot))
      .filter(col("wt") > 0L && col("w") > 0L)
      .select(col("h"),
        expr(s"CAST((CAST($budget AS DECIMAL(38,0)) * w * 2 + wt) DIV (2 * CAST(wt AS DECIMAL(38,0))) AS BIGINT)")
          .as("quota"))
      .filter(col("quota") > 0L)
    val wRank = Window.partitionBy(col("h"))
      .orderBy(HashFunctions.md5_bucket60(col("id").cast("string")), col("id"))
    corpus
      .select(col(idCol).as("id"), col(stratumCol).as("h"))
      .join(broadcast(quotas), Seq("h"))
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .filter(col("rk") <= col("quota"))
      .select(col("id"), col("h").as("stratum"), col("rk"), col("quota"))
  }

  /** x212: 100 docs across languages, allocated by n_chars variance. */
  def x212StratifiedSample(s: SparkSession, dir: String): DataFrame =
    stratifiedSample(Tables.load(s, dir, "documents"),
      "doc_id", "lang", "n_chars", budget = 100L)

  private val x212OracleSql: String = """
      WITH per AS (SELECT lang AS h, count(*) AS n,
                     CAST(sum(n_chars) AS BIGINT) AS sv,
                     CAST(sum(n_chars * n_chars) AS BIGINT) AS svv
                   FROM documents GROUP BY lang),
      st AS (SELECT *, CASE WHEN n > 1 THEN
               CAST(round(sqrt(CAST(n * svv - sv * sv AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (n - 1))), 0) AS BIGINT)
               ELSE 0 END AS s0
             FROM per),
      wt AS (SELECT CAST(sum(n * s0) AS BIGINT) AS wt FROM st),
      q AS (SELECT h, CAST((CAST(100 AS HUGEINT) * (n * s0) * 2 + wt.wt)
                  // (2 * CAST(wt.wt AS HUGEINT)) AS BIGINT) AS quota
            FROM st, wt
            WHERE wt.wt > 0 AND n * s0 > 0),
      rk AS (SELECT d.doc_id AS id, d.lang AS stratum, q.quota,
               CAST(row_number() OVER (PARTITION BY d.lang
                 ORDER BY ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT,
                          d.doc_id) AS BIGINT) AS rk
             FROM documents d JOIN q ON q.h = d.lang
             WHERE q.quota > 0)
      SELECT id, stratum, rk, quota
      FROM rk WHERE rk <= quota
      ORDER BY stratum, rk"""

  // ---- x213: cross-lingual duplicate audit -------------------------------------

  /** Near-dup pairs (the x02 chain at `threshold`) whose docs carry
    * different values of `langCol` — the translated-boilerplate /
    * mislanguaged leakage a per-language pipeline cannot see. Output:
    * (doc_a, doc_b, lang_a, lang_b, jaccard) ordered.
    *
    * Scale: the x02 inverted-index pair join plus two id-keyed lookups
    * of the language column — the tag table is (id, lang), co-shuffled
    * on the id; nothing new materializes at corpus width.
    */
  def crossLingualDupPairs(
      corpus: DataFrame, idCol: String, textCol: String, langCol: String,
      threshold: Double = 0.3): DataFrame = {
    val tags = corpus.select(col(idCol).as("doc_id"), col(langCol).as("lang"))
    Extensions.jaccardPairs(corpus, idCol, textCol, threshold)
      .join(tags.select(col("doc_id").as("doc_a"), col("lang").as("lang_a")),
        Seq("doc_a"))
      .join(tags.select(col("doc_id").as("doc_b"), col("lang").as("lang_b")),
        Seq("doc_b"))
      .filter(col("lang_a") =!= col("lang_b"))
      .select(col("doc_a"), col("doc_b"), col("lang_a"), col("lang_b"),
        col("jaccard"))
  }

  /** x213: cross-language near-dup leakage in the fixture corpus. */
  def x213CrossLingual(s: SparkSession, dir: String): DataFrame =
    crossLingualDupPairs(Tables.load(s, dir, "documents"),
      "doc_id", "text", "lang")

  private val x213OracleSql: String = """
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      j AS (SELECT doc_a, doc_b,
              round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard
            FROM pairs
            JOIN cnt ca ON ca.doc_id = doc_a
            JOIN cnt cb ON cb.doc_id = doc_b
            WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.3)
      SELECT j.doc_a, j.doc_b, da.lang AS lang_a, db.lang AS lang_b, j.jaccard
      FROM j
      JOIN documents da ON da.doc_id = j.doc_a
      JOIN documents db ON db.doc_id = j.doc_b
      WHERE da.lang <> db.lang
      ORDER BY j.doc_a, j.doc_b"""

  // ---- x214: source-mix KL drift -----------------------------------------------

  /** Release-over-release drift of the corpus SOURCE mixture:
    * smoothed shares p_h (prev), q_h (next) with add-half over the
    * union of sources; per-source KL contribution q_h·ln(q_h/p_h)
    * micro-quantized to 1e-6 units BEFORE the total (order-free long
    * sum). Output per source: (source, n_prev, n_next,
    * share_prev, share_next, kl_contrib_micro, kl_total_micro) — the
    * total repeats on each of the ≤sources rows (window over the
    * bounded source table).
    *
    * Scale: two source hash-aggs + ONE full-outer join on the
    * ≤sources tables; all float math on that dimension-sized table.
    */
  def sourceMixKl(
      prev: DataFrame, next: DataFrame, sourceCol: String): DataFrame = {
    def counts(df: DataFrame, n: String) = df
      .select(col(sourceCol).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as(n))
    val joined = counts(prev, "np").join(counts(next, "nq"), Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("np"), lit(0L)).as("np"),
        coalesce(col("nq"), lit(0L)).as("nq"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val tot = joined
      .withColumn("tp", sum(col("np")).over(wAll))
      .withColumn("tq", sum(col("nq")).over(wAll))
      .withColumn("s", count(lit(1)).over(wAll))
    // smoothed shares as ONE shared double expression each; the KL
    // contribution quantizes per source before the long total
    val p = (col("np").cast("double") * 2d + 1d) / (col("tp").cast("double") * 2d + col("s"))
    val q = (col("nq").cast("double") * 2d + 1d) / (col("tq").cast("double") * 2d + col("s"))
    tot
      .withColumn("contrib", round(q * log(q / p) * lit(1e6), 0).cast("long"))
      .select(col("source"), col("np").as("n_prev"), col("nq").as("n_next"),
        Extensions.round4o(p).as("share_prev"),
        Extensions.round4o(q).as("share_next"),
        col("contrib").as("kl_contrib_micro"),
        sum(col("contrib")).over(wAll).as("kl_total_micro"))
  }

  /** x214: mixture drift between the fixture corpus and a release that
    * drops src0 and doubles src1 (deterministic edit — the
    * drift the monitor must read exactly).
    */
  def x214SourceMix(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(s, dir, "documents")
    val next = d.filter(col("source") =!= "src0")
      .unionAll(d.filter(col("source") === "src1"))
    sourceMixKl(d, next, "source")
  }

  private val x214OracleSql: String = """
      WITH nextrel AS (SELECT * FROM documents WHERE source <> 'src0'
                       UNION ALL SELECT * FROM documents WHERE source = 'src1'),
      cp AS (SELECT source, count(*) AS np FROM documents GROUP BY source),
      cq AS (SELECT source, count(*) AS nq FROM nextrel GROUP BY source),
      j AS (SELECT coalesce(cp.source, cq.source) AS source,
              coalesce(cp.np, 0) AS np, coalesce(cq.nq, 0) AS nq
            FROM cp FULL OUTER JOIN cq ON cp.source = cq.source),
      t AS (SELECT *, CAST(sum(np) OVER () AS BIGINT) AS tp,
                   CAST(sum(nq) OVER () AS BIGINT) AS tq,
                   CAST(count(*) OVER () AS BIGINT) AS s
            FROM j),
      k AS (SELECT *,
              (CAST(np AS DOUBLE) * 2 + 1) / (CAST(tp AS DOUBLE) * 2 + s) AS p,
              (CAST(nq AS DOUBLE) * 2 + 1) / (CAST(tq AS DOUBLE) * 2 + s) AS q
            FROM t),
      c AS (SELECT *, CAST(round(q * ln(q / p) * 1e6, 0) AS BIGINT) AS contrib FROM k)
      SELECT source, CAST(np AS BIGINT) AS n_prev, CAST(nq AS BIGINT) AS n_next,
             round(p * 10000.0, 0) / 10000.0 AS share_prev,
             round(q * 10000.0, 0) / 10000.0 AS share_next,
             contrib AS kl_contrib_micro,
             CAST(sum(contrib) OVER () AS BIGINT) AS kl_total_micro
      FROM c
      ORDER BY source"""

  val entries: Seq[Entry] = Seq(
    Entry("x212_stratified_sample", x212StratifiedSample _, x212OracleSql),
    Entry("x213_crosslingual_dups", x213CrossLingual _, x213OracleSql),
    Entry("x214_source_mix_kl", x214SourceMix _, x214OracleSql))
}
