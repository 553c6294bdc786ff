package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables
import graft.functions.HashFunctions

/** Fifty-eighth extension batch — corpus law + stratified causality:
  *
  *  - simple Good–Turing (x148): how much probability mass belongs to
  *    tokens we have NEVER seen? The count-of-counts estimator (Good
  *    1953; Gale & Sampson 1995): p_unseen = N_1/N and adjusted counts
  *    r* = (r+1)·N_{r+1}/N_r — the crawl-planning constant that says
  *    whether a domain's vocabulary is exhausted (x65's Zipf slope and
  *    x129's Heaps fit read the law; this prices the tail).
  *  - Cochran–Mantel–Haenszel pooled odds ratio (x149, Mantel &
  *    Haenszel 1959): the stratified 2×2 readout — per-stratum odds
  *    ratios plus the MH-pooled estimate that a confounded marginal
  *    table (Simpson's paradox) gets wrong. Completes the
  *    experimentation tier: SRM → CUPED/DiD/mSPRT → QTE → CMH for
  *    when the split must be analyzed WITHIN strata.
  *
  * Determinism discipline: x148 is exact longs with one half-away
  * division per row; x149 quantizes each
  * MH term a·d/n to micro-units via half-away integer division before
  * the stratum sum, so pooling is exact long addition — never a float
  * sum whose partial order could move the estimate.
  */
object Extensions58 {

  // ---- x148: simple Good–Turing unseen-mass estimate ---------------------------

  /** Count-of-counts table with simple Good–Turing smoothing (Good
    * 1953; Gale & Sampson 1995): for each observed token count r,
    * N_r = token types seen exactly r times, the adjusted count
    * r* = (r+1)·N_{r+1}/N_r (NULL when the next count class is empty
    * — the raw estimator, honestly undefined there), and the unseen
    * probability mass p_unseen = N_1/N repeated on every row — the
    * number a crawl-planning loop reads as "how much of this domain's
    * vocabulary have we NOT seen yet".
    *
    * Exactness: all counts exact longs; r* renders via one half-away
    * integer division (10^4·(r+1)·N_{r+1} / N_r), p_unseen via the
    * 4dp product form — no float enters before the final division.
    *
    * Scale: one corpus explode + token hash-agg (the corpus-sized
    * step), then a count-of-counts hash-agg — the output table is
    * O(distinct counts), log-sized in practice; the lead window runs
    * over that table only.
    */
  def goodTuring(corpus: DataFrame, textCol: String): DataFrame = {
    val toks = filter(split(lower(col(textCol)), " "), t => length(t) > 0)
    val freqs = corpus.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("r"))
    val coc = freqs.groupBy(col("r")).agg(count(lit(1)).as("n_r"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wLead = Window.orderBy(col("r"))
    coc
      .withColumn("total", sum(col("r") * col("n_r")).over(wAll))
      .withColumn("n1", max(when(col("r") === 1L, col("n_r"))).over(wAll))
      .withColumn("next_r", lead(col("r"), 1).over(wLead))
      .withColumn("next_nr", lead(col("n_r"), 1).over(wLead))
      .select(col("r"), col("n_r"),
        when(col("next_r") === col("r") + 1L,
          expr("((10000 * (r + 1) * next_nr) * 2 + n_r) DIV (2 * n_r) / 10000.0D"))
          .as("r_star"),
        Extensions.round4o(coalesce(col("n1"), lit(0L)) / col("total"))
          .as("p_unseen"))
  }

  /** x148: Good–Turing count-of-counts of the documents fixture. */
  def x148GoodTuring(s: SparkSession, dir: String): DataFrame =
    goodTuring(Tables.load(s, dir, "documents"), "text")

  private val x148OracleSql: String = """
      WITH tk AS (SELECT u.w, count(*) AS r
                  FROM (SELECT string_split(lower(text), ' ') AS t FROM documents) d,
                       UNNEST(d.t) AS u(w)
                  WHERE length(u.w) > 0
                  GROUP BY u.w),
      coc AS (SELECT r, count(*) AS n_r FROM tk GROUP BY r),
      ext AS (SELECT r, n_r,
                CAST(sum(r * n_r) OVER () AS BIGINT) AS total,
                max(CASE WHEN r = 1 THEN n_r END) OVER () AS n1,
                lead(r) OVER (ORDER BY r) AS next_r,
                lead(n_r) OVER (ORDER BY r) AS next_nr
              FROM coc)
      SELECT r, n_r,
             CASE WHEN next_r = r + 1
                  THEN ((10000 * (r + 1) * next_nr) * 2 + n_r) // (2 * n_r) / 10000.0
                  END AS r_star,
             round(coalesce(n1, 0) * 1.0 / total * 10000.0, 0) / 10000.0 AS p_unseen
      FROM ext
      ORDER BY r"""

  // ---- x149: Cochran–Mantel–Haenszel stratified odds ratio ---------------------

  /** Stratified 2×2 analysis: rows are (stratum, exposed, outcome)
    * booleans per subject; per stratum the table (a,b,c,d) =
    * (exposed∧outcome, exposed∧¬, ¬∧outcome, ¬∧¬), per-stratum
    * OR = a·d/(b·c) (NULL when b·c = 0), and the MH-pooled
    * OR_MH = Σ(a_i·d_i/n_i) / Σ(b_i·c_i/n_i) repeated on every row.
    *
    * Exactness: each MH term quantizes to micro-units via half-away
    * integer division (halfAway(1e6·a·d, n) — exact longs) BEFORE the
    * stratum sum, so pooling is integer addition; per-stratum OR
    * renders via halfAway(1e4·a·d, b·c). Headroom: a·d ≤ (n/2)² —
    * 1e6·a·d stays in long range for strata up to ~6e6 subjects; for
    * larger strata pre-aggregate or shard the stratum key.
    *
    * Scale: one hash-agg to ≤strata rows; the pooled sum is a window
    * over that aggregated table only.
    */
  def cmhOddsRatio(
      subjects: DataFrame, stratumCol: String, exposedCol: String,
      outcomeCol: String): DataFrame = {
    val per = subjects
      .groupBy(col(stratumCol).as("stratum"))
      .agg(
        sum(when(col(exposedCol) && col(outcomeCol), 1L).otherwise(0L)).as("a"),
        sum(when(col(exposedCol) && !col(outcomeCol), 1L).otherwise(0L)).as("b"),
        sum(when(!col(exposedCol) && col(outcomeCol), 1L).otherwise(0L)).as("c"),
        sum(when(!col(exposedCol) && !col(outcomeCol), 1L).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .withColumn("numq", expr("(1000000 * a * d * 2 + n) DIV (2 * n)"))
      .withColumn("denq", expr("(1000000 * b * c * 2 + n) DIV (2 * n)"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    per
      .withColumn("snum", sum(col("numq")).over(wAll))
      .withColumn("sden", sum(col("denq")).over(wAll))
      .select(col("stratum"), col("a"), col("b"), col("c"), col("d"),
        when(col("b") * col("c") > 0L,
          expr("((10000 * a * d * 2 + b * c) DIV (2 * b * c)) / 10000.0D"))
          .as("or_stratum"),
        Extensions.round4o(try_divide(col("snum").cast("double"), col("sden")))
          .as("or_mh"))
  }

  /** x149: does the md5-split "exposure" move the odds of
    * above-median spend, within first-activity-week cohorts? Strata =
    * week of a user's first event; outcome = the user's total spend
    * strictly above the global per-user median (balanced by
    * construction — a near-universal outcome like "ever purchases"
    * zeroes every b·c and leaves OR undefined). An A/A readout: OR_MH
    * should hug 1.
    */
  def x149Cmh(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.load(s, dir, "events")
    val perUser = ev.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"),
        sum(round(col("value") * 100.0d, 0).cast("long")).as("cents"))
    val med = perUser.agg(
      expr("CAST(round(2.0D * percentile(cents, 0.5D), 0) AS BIGINT)")
        .as("med2"))
    val subjects = perUser.crossJoin(broadcast(med))
      .select(
        date_format(date_trunc("week", col("first_ts")), "yyyy-MM-dd")
          .as("stratum"),
        (pmod(HashFunctions.md5_bucket60(col("user_id").cast("string")),
          lit(2L)) === 0L).as("exposed"),
        (col("cents") * 2L > col("med2")).as("outcome"))
    cmhOddsRatio(subjects, "stratum", "exposed", "outcome")
  }

  private val x149OracleSql: String = """
      WITH pu0 AS (SELECT user_id,
                    strftime(date_trunc('week', min(ts)), '%Y-%m-%d') AS stratum,
                    ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 = 0 AS exposed,
                    CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS cents
                  FROM events GROUP BY user_id),
      md AS (SELECT CAST(round(2.0 * percentile_cont(0.5) WITHIN GROUP (ORDER BY cents), 0) AS BIGINT) AS med2
             FROM pu0),
      pu AS (SELECT stratum, exposed, cents * 2 > med2 AS outcome FROM pu0, md),
      per AS (SELECT stratum,
                CAST(sum(CASE WHEN exposed AND outcome THEN 1 ELSE 0 END) AS BIGINT) AS a,
                CAST(sum(CASE WHEN exposed AND NOT outcome THEN 1 ELSE 0 END) AS BIGINT) AS b,
                CAST(sum(CASE WHEN NOT exposed AND outcome THEN 1 ELSE 0 END) AS BIGINT) AS c,
                CAST(sum(CASE WHEN NOT exposed AND NOT outcome THEN 1 ELSE 0 END) AS BIGINT) AS d
              FROM pu GROUP BY stratum),
      q AS (SELECT *, a + b + c + d AS n,
              (1000000 * a * d * 2 + (a + b + c + d)) // (2 * (a + b + c + d)) AS numq,
              (1000000 * b * c * 2 + (a + b + c + d)) // (2 * (a + b + c + d)) AS denq
            FROM per),
      t AS (SELECT *, CAST(sum(numq) OVER () AS BIGINT) AS snum,
                      CAST(sum(denq) OVER () AS BIGINT) AS sden
            FROM q)
      SELECT stratum, a, b, c, d,
             CASE WHEN b * c > 0
                  THEN ((10000 * a * d * 2 + b * c) // (2 * b * c)) / 10000.0
                  END AS or_stratum,
             round(CAST(snum AS DOUBLE) / sden * 10000.0, 0) / 10000.0 AS or_mh
      FROM t
      ORDER BY stratum"""

  val entries: Seq[Entry] = Seq(
    Entry("x148_good_turing", x148GoodTuring _, x148OracleSql),
    Entry("x149_cmh", x149Cmh _, x149OracleSql))
}
