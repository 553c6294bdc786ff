package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Hundred-first extension batch — price the threshold, fit the law
  * per source:
  *
  *  - dedup savings frontier (x229): per candidate Jaccard threshold,
  *    the documents a pairwise keep-first dedup would drop and the
  *    BYTES that buys — x158 counts pairs per threshold, x216 prices
  *    one threshold; this is the full frontier the threshold decision
  *    actually reads (looser threshold = more savings AND more false
  *    drops; the frontier shows the price of each step).
  *  - per-group lognormal length fit (x230): the x217 fit per source —
  *    which sources follow the length law and which carry the heavy
  *    tail (truncation planning is per-source at mixture time).
  *
  * Determinism discipline: x229 rides the x02 4dp-round-before-
  * threshold pair chain; dropped-doc sets are exact distinct counts
  * per spine point, byte sums exact longs. x230 keeps the x217 rule
  * (ln micro-quantized before group moments, exact tail counts via
  * the broadcast per-group fit).
  */
object Extensions101 {

  // ---- x229: dedup savings frontier ----------------------------------------------

  /** Per threshold t (over `thresholds`, descending-strictness view of
    * one pair computation at min t): documents dropped by the pairwise
    * keep-first rule (doc_b of any pair with jaccard ≥ t), bytes
    * dropped, and both as shares of the corpus. Output:
    * (threshold, n_dropped, drop_share, bytes_dropped, byte_share).
    *
    * Scale: ONE x02 pair computation at min(thresholds) (bucketed,
    * never all-pairs); the sweep is a broadcast-spine fan-out of the
    * PAIR LIST (graph-sized) to distinct (t, doc_b), one byte join,
    * two hash-aggs. The corpus contributes one 1-row reduction.
    */
  def dedupSavingsFrontier(
      corpus: DataFrame, idCol: String, textCol: String,
      thresholds: Seq[Double] = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)): DataFrame = {
    require(thresholds.nonEmpty)
    val spark = corpus.sparkSession
    import spark.implicits._
    val bytes = corpus.select(col(idCol).as("doc_id"),
      length(col(textCol)).cast("long").as("bytes"))
    val tot = bytes.agg(count(lit(1)).as("n_total"),
      sum(col("bytes")).as("bytes_total"))
    val pairs = Extensions.jaccardPairs(corpus, idCol, textCol, thresholds.min)
    val spine = thresholds.map(t => BigDecimal(t).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble).toDF("threshold")
    val dropped = pairs.crossJoin(broadcast(spine))
      .filter(col("jaccard") >= col("threshold"))
      .select(col("threshold"), col("doc_b").as("doc_id"))
      .distinct()
    dropped.join(bytes, Seq("doc_id"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_dropped"), sum(col("bytes")).as("bytes_dropped"))
      .join(spine, Seq("threshold"), "right_outer")
      .na.fill(0L, Seq("n_dropped", "bytes_dropped"))
      .crossJoin(broadcast(tot))
      .select(col("threshold"), col("n_dropped"),
        expr("((n_dropped * 10000 * 2 + n_total) DIV (2 * n_total)) / 10000.0D")
          .as("drop_share"),
        col("bytes_dropped"),
        expr("((bytes_dropped * 10000 * 2 + bytes_total) DIV (2 * bytes_total)) / 10000.0D")
          .as("byte_share"))
  }

  /** x229: what each threshold step buys (and costs) on the fixture. */
  def x229SavingsFrontier(s: SparkSession, dir: String): DataFrame =
    dedupSavingsFrontier(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x229OracleSql: String = {
    val ts = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9).map(t => s"($t)").mkString(", ")
    s"""
      WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
      sh0 AS (SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS sh
              FROM d, UNNEST(generate_series(1, CASE WHEN len(toks) >= 5 THEN len(toks)-4 ELSE 1 END)) AS g(i)),
      sh AS (SELECT DISTINCT doc_id, sh FROM sh0),
      cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
              FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
      jp AS (SELECT doc_a, doc_b,
               round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) AS jaccard
             FROM prs
             JOIN cnt ca ON ca.doc_id = doc_a
             JOIN cnt cb ON cb.doc_id = doc_b
             WHERE round(shared * 1.0 / (ca.n_sh + cb.n_sh - shared), 4) >= 0.3),
      sp AS (SELECT round(t, 4) AS threshold FROM UNNEST([$ts]) AS u(t)),
      dr AS (SELECT DISTINCT sp.threshold, jp.doc_b AS doc_id
             FROM jp CROSS JOIN sp WHERE jp.jaccard >= sp.threshold),
      byt AS (SELECT doc_id, CAST(len(text) AS BIGINT) AS bytes FROM documents),
      g AS (SELECT dr.threshold, count(*) AS n_dropped,
              CAST(sum(byt.bytes) AS BIGINT) AS bytes_dropped
            FROM dr JOIN byt ON byt.doc_id = dr.doc_id
            GROUP BY dr.threshold),
      f AS (SELECT sp.threshold, coalesce(g.n_dropped, 0) AS n_dropped,
                   coalesce(g.bytes_dropped, 0) AS bytes_dropped
            FROM sp LEFT JOIN g ON g.threshold = sp.threshold),
      t AS (SELECT count(*) AS n_total, CAST(sum(len(text)) AS BIGINT) AS bytes_total
            FROM documents)
      SELECT f.threshold, f.n_dropped,
             ((f.n_dropped * 10000 * 2 + t.n_total) // (2 * t.n_total)) / 10000.0 AS drop_share,
             f.bytes_dropped,
             ((f.bytes_dropped * 10000 * 2 + t.bytes_total) // (2 * t.bytes_total)) / 10000.0 AS byte_share
      FROM f, t
      ORDER BY f.threshold"""
  }

  // ---- x230: per-group lognormal length fit ---------------------------------------

  /** The x217 method-of-moments lognormal fit PER GROUP: (group_key,
    * n, mu, sigma, fitted_median, fitted_p99, n_beyond_p99,
    * tail_share). Same exactness rules: ln micro-quantized
    * before the group moment sums; the tail count is an exact
    * conditional sum against the broadcast per-group fit.
    *
    * Scale: one group moment hash-agg (dimension-sized result,
    * broadcast back), one conditional-count pass — two corpus passes
    * for every group at once.
    */
  def groupedLengthFit(
      corpus: DataFrame, groupCol: String, lenCol: String): DataFrame = {
    val l4 = round(log(col(lenCol).cast("double")) * lit(1e4), 0).cast("long")
    val mom = Extensions.materialized(corpus
      .filter(col(lenCol) > 0)
      .select(col(groupCol).as("g"), l4.as("l"))
      .groupBy(col("g"))
      // width audit (r12): l² ≤ 4.4e10 fits a long per row, but Σl² and
      // n·Σl² − (Σl)² wrap past ~4.6e4 rows PER GROUP — the moment sum
      // and both composition products run in DECIMAL(38,0) (bound at
      // n=1e12: n²·l² ≈ 4.4e34 < 1e38)
      .agg(count(lit(1)).as("n"), sum(col("l")).as("sl"),
        sum((col("l") * col("l")).cast("decimal(38,0)")).as("sll"))
      .withColumn("mu", col("sl").cast("double") / col("n") / lit(1e4))
      .withColumn("sigma", when(col("n") > 1L, sqrt(
        (col("n") * col("sll") - col("sl").cast("decimal(38,0)") * col("sl"))
          .cast("double") /
          (col("n").cast("double") * (col("n") - 1L))) / lit(1e4))
        .otherwise(lit(0.0d)))
      .withColumn("p99", exp(col("mu") + lit(2.3263d) * col("sigma"))))
    val tails = corpus.filter(col(lenCol) > 0)
      .select(col(groupCol).as("g"), col(lenCol).cast("double").as("v"))
      .join(broadcast(mom.select(col("g"), col("p99"))), Seq("g"))
      .groupBy(col("g"))
      .agg(sum(when(col("v") > col("p99"), 1L).otherwise(0L)).as("n_beyond"))
    mom.join(tails, Seq("g"))
      .select(col("g").as("group_key"), col("n"),
        Extensions.round4o(col("mu")).as("mu"),
        Extensions.round4o(col("sigma")).as("sigma"),
        Extensions.round4o(exp(col("mu"))).as("fitted_median"),
        Extensions.round4o(col("p99")).as("fitted_p99"),
        col("n_beyond").as("n_beyond_p99"),
        expr("((n_beyond * 10000 * 2 + n) DIV (2 * n)) / 10000.0D")
          .as("tail_share"))
  }

  /** x230: which fixture sources carry the heavy length tail. */
  def x230GroupedFit(s: SparkSession, dir: String): DataFrame =
    groupedLengthFit(Tables.load(s, dir, "documents"), "lang", "n_chars")

  private val x230OracleSql: String = """
      WITH l AS (SELECT lang AS g,
                   CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1e4, 0) AS BIGINT) AS l,
                   CAST(n_chars AS DOUBLE) AS v
                 FROM documents WHERE n_chars > 0),
      mom AS (SELECT g, count(*) AS n, CAST(sum(l) AS BIGINT) AS sl,
                CAST(sum(l * l) AS BIGINT) AS sll
              FROM l GROUP BY g),
      fit AS (SELECT *,
                CAST(sl AS DOUBLE) / n / 1e4 AS mu,
                CASE WHEN n > 1 THEN sqrt(CAST(n * sll - sl * sl AS DOUBLE)
                  / (CAST(n AS DOUBLE) * (n - 1))) / 1e4 ELSE 0.0 END AS sigma
              FROM mom),
      p AS (SELECT *, exp(mu + 2.3263 * sigma) AS p99 FROM fit),
      t AS (SELECT l.g, CAST(sum(CASE WHEN l.v > p.p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_beyond
            FROM l JOIN p ON p.g = l.g
            GROUP BY l.g)
      SELECT p.g AS group_key, p.n,
             round(p.mu * 10000.0, 0) / 10000.0 AS mu,
             round(p.sigma * 10000.0, 0) / 10000.0 AS sigma,
             round(exp(p.mu) * 10000.0, 0) / 10000.0 AS fitted_median,
             round(p.p99 * 10000.0, 0) / 10000.0 AS fitted_p99,
             t.n_beyond AS n_beyond_p99,
             ((t.n_beyond * 10000 * 2 + p.n) // (2 * p.n)) / 10000.0 AS tail_share
      FROM p JOIN t ON t.g = p.g
      ORDER BY group_key"""

  val entries: Seq[Entry] = Seq(
    Entry("x229_savings_frontier", x229SavingsFrontier _, x229OracleSql),
    Entry("x230_grouped_length_fit", x230GroupedFit _, x230OracleSql))
}
