package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Ninety-fourth extension batch — plan the join, price the dedup,
  * know the length law:
  *
  *  - join skew planner (x215): BOTH sides' key heat + the predicted
  *    join fan-out per key (c_a·c_b — the number that actually lands
  *    on one reducer) + the salt-bucket recommendation, BEFORE running
  *    the join. x187 reads one table's heat; a join's straggler is the
  *    PRODUCT of two heats, and this is the pre-flight check that
  *    predicts it. Feeds [[Scale.saltedJoin]]/[[Scale.saltDecision]].
  *  - dedup savings card (x216): the x167 funnel priced in BYTES —
  *    how much storage/compute the exact and near stages each buy.
  *    The number that justifies the dedup pass to whoever pays for
  *    the cluster.
  *  - lognormal length fit (x217): method-of-moments fit of
  *    ln(length) per corpus — document lengths are canonically
  *    lognormal-ish; the fitted (mu, sigma), the fitted median, and
  *    the observed tail mass beyond the fitted p99 say how heavy the
  *    real tail runs vs the law (packing and truncation planning both
  *    start here).
  *
  * Determinism discipline: x215's fan-out products run in 128-bit
  * (two corpus-scale counts — the x162 rule) and the flag/topk
  * compare integers; x216 is exact byte sums end to end; x217
  * micro-quantizes each ln(length) BEFORE the moment sums (the x129
  * rule) and keeps the tail count exact.
  */
object Extensions94 {

  // ---- x215: join skew planner -------------------------------------------------

  /** For an equi-join `left ⋈ right` on `keyCol`: per key the two
    * sides' counts, the predicted output rows c_l·c_r (128-bit), and a
    * hot flag (predicted output > `hotFactor` × the mean per-key
    * output). Output top-`topK` by (predicted desc, key):
    * (key, n_left, n_right, predicted_rows, mean_rows, hot,
    * salt_buckets) — salt_buckets = ceil(share/mean) capped 64, 1 when
    * cold (the [[Scale.saltDecision]] arithmetic on the JOIN fan-out).
    *
    * Scale: one hash-agg per side, one inner join of the two per-key
    * tables (only keys on both sides produce output), one 1-row
    * totals agg broadcast back — the planner costs two scans; the
    * straggler it predicts costs hours.
    */
  def joinSkewPlanner(
      left: DataFrame, right: DataFrame, keyCol: String,
      hotFactor: Long = 3L, topK: Int = 20): DataFrame = {
    val cl = left.select(col(keyCol).as("k")).groupBy(col("k"))
      .agg(count(lit(1)).as("cl"))
    val cr = right.select(col(keyCol).as("k")).groupBy(col("k"))
      .agg(count(lit(1)).as("cr"))
    // materialized: the per-key table feeds BOTH the totals agg and the
    // final projection — without the checkpoint each consumer re-runs
    // the two corpus scans + the key join (measured: 6 parquet scans in
    // the final plan instead of 2; at 100 TB that triples the planner's
    // cost). The checkpoint is O(join keys), not corpus-sized.
    val per = Extensions.materialized(cl.join(cr, Seq("k"))
      .withColumn("pred", expr("CAST(cl AS DECIMAL(38,0)) * cr")))
    val tot = per.agg(sum(col("pred")).as("tot"), count(lit(1)).as("nk"))
    per.crossJoin(broadcast(tot))
      .select(col("k").as("key"), col("cl").as("n_left"), col("cr").as("n_right"),
        col("pred").cast("long").as("predicted_rows"),
        expr("CAST((tot * 2 + nk) DIV (2 * CAST(nk AS DECIMAL(38,0))) AS BIGINT)")
          .as("mean_rows"),
        expr(s"pred * nk > CAST($hotFactor AS DECIMAL(38,0)) * tot").as("hot"),
        expr(s"""CAST(CASE WHEN pred * nk <= CAST($hotFactor AS DECIMAL(38,0)) * tot THEN 1
                 ELSE least(CAST(64 AS DECIMAL(38,0)), (pred * nk + tot - 1) DIV CAST(tot AS DECIMAL(38,0))) END AS BIGINT)""")
          .as("salt_buckets"))
      .orderBy(col("predicted_rows").desc, col("key"))
      .limit(topK)
  }

  /** x215: pre-flight of the orders⋈lineitem order-key join. */
  def x215JoinSkew(s: SparkSession, dir: String): DataFrame =
    joinSkewPlanner(
      Tables.load(s, dir, "orders").select(col("o_orderkey").as("k")),
      Tables.load(s, dir, "lineitem").select(col("l_orderkey").as("k")),
      "k")

  private val x215OracleSql: String = """
      WITH cl AS (SELECT o_orderkey AS k, count(*) AS cl FROM orders GROUP BY 1),
      cr AS (SELECT l_orderkey AS k, count(*) AS cr FROM lineitem GROUP BY 1),
      per AS (SELECT cl.k, cl.cl, cr.cr,
                CAST(cl.cl AS HUGEINT) * cr.cr AS pred
              FROM cl JOIN cr ON cl.k = cr.k),
      t AS (SELECT CAST(sum(pred) AS HUGEINT) AS tot, count(*) AS nk FROM per)
      SELECT per.k AS key, per.cl AS n_left, per.cr AS n_right,
             CAST(per.pred AS BIGINT) AS predicted_rows,
             CAST((t.tot * 2 + t.nk) // (2 * CAST(t.nk AS HUGEINT)) AS BIGINT) AS mean_rows,
             per.pred * t.nk > CAST(3 AS HUGEINT) * t.tot AS hot,
             CAST(CASE WHEN per.pred * t.nk <= CAST(3 AS HUGEINT) * t.tot THEN 1
                  ELSE least(CAST(64 AS HUGEINT), (per.pred * t.nk + t.tot - 1) // CAST(t.tot AS HUGEINT)) END AS BIGINT) AS salt_buckets
      FROM per, t
      ORDER BY predicted_rows DESC, key
      LIMIT 20"""

  // ---- x216: dedup savings card ------------------------------------------------

  /** The dedup funnel priced in bytes: raw corpus bytes, bytes
    * surviving exact dedup (md5 keep-min), bytes surviving the near
    * stage on the exact-deduped survivors (x02 pairs at `threshold`,
    * drop doc_b), and each stage's savings share. ONE output row:
    * (n_docs, raw_bytes, after_exact_bytes, after_near_bytes,
    * exact_savings_share, near_savings_share).
    *
    * Scale: the x167 funnel chain (digest hash-agg, then the pair join
    * over the ALREADY-shrunk survivors) with byte sums riding the same
    * aggregations — no extra pass. Shares render half-away; byte sums
    * are exact longs (4.6e14-byte numerator headroom ≫ any corpus that
    * fits one table).
    */
  def dedupSavingsCard(
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5): DataFrame = {
    val base = Extensions.materialized(
      corpus.select(col(idCol).as("doc_id"), col(textCol).as("text"),
        length(col(textCol)).cast("long").as("bytes")))
    val keepExact = base
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val exact = Extensions.materialized(
      base.join(keepExact, Seq("doc_id"), "left_semi"))
    val nearDrop = Extensions.jaccardPairs(exact, "doc_id", "text", threshold)
      .select(col("doc_b").as("doc_id")).distinct()
    val near = exact.join(nearDrop, Seq("doc_id"), "left_anti")
    val raw = base.agg(count(lit(1)).as("n_docs"), sum(col("bytes")).as("raw_bytes"))
    val ex = exact.agg(sum(col("bytes")).as("after_exact_bytes"))
    val nr = near.agg(sum(col("bytes")).as("after_near_bytes"))
    raw.crossJoin(ex).crossJoin(nr)
      .select(col("n_docs"), col("raw_bytes"), col("after_exact_bytes"),
        col("after_near_bytes"),
        expr("(((raw_bytes - after_exact_bytes) * 10000 * 2 + raw_bytes) DIV (2 * raw_bytes)) / 10000.0D")
          .as("exact_savings_share"),
        expr("(((after_exact_bytes - after_near_bytes) * 10000 * 2 + raw_bytes) DIV (2 * raw_bytes)) / 10000.0D")
          .as("near_savings_share"))
  }

  /** x216: what the two dedup stages buy on the fixture corpus. */
  def x216DedupSavings(s: SparkSession, dir: String): DataFrame =
    dedupSavingsCard(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x216OracleSql: String = """
      WITH base AS (SELECT doc_id, text, CAST(len(text) AS BIGINT) AS bytes
                    FROM documents),
      ke AS (SELECT min(doc_id) AS doc_id FROM base GROUP BY md5(text)),
      ex AS (SELECT b.* FROM base b JOIN ke ON ke.doc_id = b.doc_id),
      d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM ex),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      nd AS (SELECT DISTINCT doc_b AS doc_id FROM pairs
             JOIN cnt ca ON ca.doc_id = doc_a
             JOIN cnt cb ON cb.doc_id = doc_b
             WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.5),
      nr AS (SELECT ex.* FROM ex LEFT JOIN nd ON nd.doc_id = ex.doc_id
             WHERE nd.doc_id IS NULL),
      agg AS (SELECT
        (SELECT count(*) FROM base) AS n_docs,
        (SELECT CAST(sum(bytes) AS BIGINT) FROM base) AS raw_bytes,
        (SELECT CAST(sum(bytes) AS BIGINT) FROM ex) AS after_exact_bytes,
        (SELECT CAST(sum(bytes) AS BIGINT) FROM nr) AS after_near_bytes)
      SELECT n_docs, raw_bytes, after_exact_bytes, after_near_bytes,
             (((raw_bytes - after_exact_bytes) * 10000 * 2 + raw_bytes) // (2 * raw_bytes)) / 10000.0 AS exact_savings_share,
             (((after_exact_bytes - after_near_bytes) * 10000 * 2 + raw_bytes) // (2 * raw_bytes)) / 10000.0 AS near_savings_share
      FROM agg"""

  // ---- x217: lognormal length fit ----------------------------------------------

  /** Method-of-moments lognormal fit of a positive length column:
    * per-row L = round(1e6·ln(len)) (micro-quantized BEFORE the
    * moment sums — order-free longs), mu/sigma from the two moments,
    * fitted median e^mu, fitted p99 = e^{mu+2.3263σ}, and the exact
    * count/share of rows beyond that fitted p99 (a second conditional
    * sum in the SAME pass via the broadcast fit — two passes total).
    * ONE output row: (n, mu, sigma, fitted_median, fitted_p99,
    * n_beyond_p99, tail_share) — a lognormal corpus reads
    * tail_share ≈ 0.01; heavier tails read more.
    *
    * Scale: one moment hash-agg (1 row, broadcast back), one
    * conditional-count pass. Width (r12 audit): the moments use
    * 1e4-unit quantization (L ≤ 2.1e5, L² ≤ 4.4e10 per row — a long),
    * and Σ L² plus the n·Σl² − (Σl)² composition run in DECIMAL(38,0):
    * the long forms wrapped past ~4.6e8 rows; decimal is exact to
    * n ≈ 1e13 (n²·L² < 1e38).
    */
  def lognormalLengthFit(
      corpus: DataFrame, lenCol: String): DataFrame = {
    val l4 = round(log(col(lenCol).cast("double")) * lit(1e4), 0).cast("long")
    val mom = Extensions.materialized(corpus
      .filter(col(lenCol) > 0)
      .select(l4.as("l"))
      .agg(count(lit(1)).as("n"), sum(col("l")).as("sl"),
        sum((col("l") * col("l")).cast("decimal(38,0)")).as("sll"))
      .withColumn("mu", col("sl").cast("double") / col("n") / lit(1e4))
      .withColumn("sigma", when(col("n") > 1L, sqrt(
        (col("n") * col("sll") - col("sl").cast("decimal(38,0)") * col("sl"))
          .cast("double") /
          (col("n").cast("double") * (col("n") - 1L))) / lit(1e4))
        .otherwise(lit(0.0d)))
      .withColumn("p99", exp(col("mu") + lit(2.3263d) * col("sigma"))))
    val tail = corpus.filter(col(lenCol) > 0)
      .crossJoin(broadcast(mom.select(col("p99"))))
      .agg(sum(when(col(lenCol).cast("double") > col("p99"), 1L).otherwise(0L))
        .as("n_beyond"))
    mom.crossJoin(tail)
      .select(col("n"),
        Extensions.round4o(col("mu")).as("mu"),
        Extensions.round4o(col("sigma")).as("sigma"),
        Extensions.round4o(exp(col("mu"))).as("fitted_median"),
        Extensions.round4o(col("p99")).as("fitted_p99"),
        col("n_beyond").as("n_beyond_p99"),
        expr("((n_beyond * 10000 * 2 + n) DIV (2 * n)) / 10000.0D")
          .as("tail_share"))
  }

  /** x217: does the fixture's n_chars follow a lognormal? */
  def x217LengthFit(s: SparkSession, dir: String): DataFrame =
    lognormalLengthFit(Tables.load(s, dir, "documents"), "n_chars")

  private val x217OracleSql: String = """
      WITH l AS (SELECT CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1e4, 0) AS BIGINT) AS l
                 FROM documents WHERE n_chars > 0),
      mom AS (SELECT count(*) AS n, CAST(sum(l) AS BIGINT) AS sl,
                CAST(sum(l * l) AS BIGINT) AS sll
              FROM l),
      fit AS (SELECT *,
                CAST(sl AS DOUBLE) / n / 1e4 AS mu,
                CASE WHEN n > 1 THEN sqrt(CAST(n * sll - sl * sl AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (n - 1))) / 1e4 ELSE 0.0 END AS sigma
              FROM mom),
      p AS (SELECT *, exp(mu + 2.3263 * sigma) AS p99 FROM fit),
      t AS (SELECT CAST(sum(CASE WHEN CAST(d.n_chars AS DOUBLE) > p.p99
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_beyond
            FROM documents d, p WHERE d.n_chars > 0)
      SELECT p.n, round(p.mu * 10000.0, 0) / 10000.0 AS mu,
             round(p.sigma * 10000.0, 0) / 10000.0 AS sigma,
             round(exp(p.mu) * 10000.0, 0) / 10000.0 AS fitted_median,
             round(p.p99 * 10000.0, 0) / 10000.0 AS fitted_p99,
             t.n_beyond AS n_beyond_p99,
             ((t.n_beyond * 10000 * 2 + p.n) // (2 * p.n)) / 10000.0 AS tail_share
      FROM p, t"""

  val entries: Seq[Entry] = Seq(
    Entry("x215_join_skew_plan", x215JoinSkew _, x215OracleSql),
    Entry("x216_dedup_savings", x216DedupSavings _, x216OracleSql),
    Entry("x217_length_fit", x217LengthFit _, x217OracleSql))
}
