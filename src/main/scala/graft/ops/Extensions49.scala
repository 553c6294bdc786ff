package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Forty-ninth extension batch — corpus growth + revenue curves:
  *
  *  - Heaps-law fit (x129): how fast does vocabulary grow with corpus
  *    size? V(T) ≈ K·T^β (Heaps 1978) — the planning constant behind
  *    tokenizer vocab sizing and dedup-rate forecasts (β near 1 ⇒ the
  *    corpus keeps minting new types; β ≪ 1 ⇒ vocabulary saturates).
  *    Fit by log-log OLS over 10 prefix checkpoints, computed WITHOUT
  *    any sequential scan: a term's prefix membership is decided by its
  *    FIRST-occurrence doc (one hash-agg), so every checkpoint is a
  *    conditional count in the same single aggregation pass.
  *  - cohort LTV curve (x130): cumulative revenue per signup cohort by
  *    month offset, per cohort member — the x86 retention sibling that
  *    prices a cohort instead of counting it.
  *
  * Determinism discipline: checkpoint counts are exact longs; the OLS
  * runs on 10 rows whose ln values quantize to micro longs BEFORE the
  * moment sums (exact integer Sxx/Sxy/… — order-free), with β's
  * numerator/denominator exact and one final division. x130's LTV
  * rounds via the sign-split half-away integer division (the x126
  * lesson: cum·100/size CAN land on a 4dp half-boundary).
  */
object Extensions49 {

  // ---- x129: Heaps-law vocabulary-growth fit ----------------------------------

  /** Fit V = K·T^β over `checkpoints` corpus prefixes (prefix i = docs
    * with checkpoints·id < i·n, an id-order prefix). Output one row:
    * n_checkpoints, tokens (T at 100%), vocab (V at 100%), beta, k_coef,
    * r2.
    *
    * Scale: ONE corpus scan builds per-doc token counts, ONE explode +
    * hash-agg builds the term→first-doc table (the corpus-sized steps);
    * every checkpoint is then a conditional sum in a single-row
    * aggregation — no per-prefix rescan, no window over the corpus, no
    * driver loop. The OLS touches `checkpoints` rows.
    */
  def heapsFit(
      corpus: DataFrame, idCol: String, textCol: String,
      checkpoints: Int = 10): DataFrame = {
    require(checkpoints >= 2)
    val toks = split(lower(col(textCol)), " ")
    val docs = Extensions.materialized(
      corpus.select(col(idCol).cast("long").as("doc_id"),
        size(filter(toks, t => length(t) > 0)).cast("long").as("n_tok"),
        filter(toks, t => length(t) > 0).as("tk")))
    val nRow = docs.agg(count(lit(1)).as("n"))
    val firstDoc = Extensions.materialized(
      docs.select(explode(col("tk")).as("w"), col("doc_id"))
        .groupBy(col("w")).agg(min(col("doc_id")).as("fd")))
    def cuts(src: DataFrame, posCol: String, valCol: Column, prefix: String) = {
      val aggs = (1 to checkpoints).map(i =>
        sum(when(col(posCol) * checkpoints < col("n") * i, valCol)
          .otherwise(0L)).as(s"$prefix$i"))
      src.crossJoin(broadcast(nRow)).groupBy().agg(aggs.head, aggs.tail: _*)
    }
    val tRow = cuts(docs, "doc_id", col("n_tok"), "t")
    val vRow = cuts(firstDoc, "fd", lit(1L), "v")
    val pts = tRow.crossJoin(vRow)
      .select(explode(array((1 to checkpoints).map(i =>
        struct(lit(i.toLong).as("i"), col(s"t$i").as("tt"),
          col(s"v$i").as("vv"))): _*)).as("p"))
      .select(col("p.i"), col("p.tt"), col("p.vv"))
      .filter(col("tt") > 0L && col("vv") > 0L)
      .select(col("i"), col("tt"), col("vv"),
        round(lit(1e6) * log(col("tt")), 0).cast("long").as("lt"),
        round(lit(1e6) * log(col("vv")), 0).cast("long").as("lv"))
    val mom = pts.agg(count(lit(1)).as("np"),
      sum(col("lt")).as("slt"), sum(col("lv")).as("slv"),
      sum(col("lt") * col("lt")).as("sltt"),
      sum(col("lt") * col("lv")).as("sltv"),
      sum(col("lv") * col("lv")).as("slvv"),
      max(col("tt")).as("tokens"), max(col("vv")).as("vocab"))
    // try_divide = the DuckDB x/0 NULL semantics: a saturated vocabulary
    // (V constant across checkpoints) makes r2's denominator 0 — the
    // honest readout is beta = 0, k = V, r2 undefined
    val num = (col("np") * col("sltv") - col("slt") * col("slv")).cast("double")
    val den = (col("np") * col("sltt") - col("slt") * col("slt")).cast("double")
    mom.select(col("np").as("n_checkpoints"), col("tokens"), col("vocab"),
      Extensions.round4o(try_divide(num, den)).as("beta"),
      Extensions.round4o(exp((col("slv").cast("double") / col("np")
        - try_divide(num, den) * col("slt") / col("np")) / lit(1e6)))
        .as("k_coef"),
      Extensions.round4o(try_divide(num * num,
        den * (col("np") * col("slvv") - col("slv") * col("slv"))))
        .as("r2"))
  }

  /** x129: Heaps fit of the documents fixture (10 prefix checkpoints). */
  def x129Heaps(s: SparkSession, dir: String): DataFrame =
    heapsFit(Tables.load(s, dir, "documents"), "doc_id", "text")

  private val x129OracleSql: String = """
      WITH d AS (SELECT doc_id,
                   CAST(len(list_filter(string_split(lower(text), ' '),
                     t -> length(t) > 0)) AS BIGINT) AS n_tok,
                   list_filter(string_split(lower(text), ' '),
                     t -> length(t) > 0) AS tk
                 FROM documents),
      nn AS (SELECT count(*) AS n FROM d),
      fd AS (SELECT u.w, CAST(min(doc_id) AS BIGINT) AS fd
             FROM d, UNNEST(tk) AS u(w) GROUP BY u.w),
      sp AS (SELECT CAST(g.i AS BIGINT) AS i FROM generate_series(1, 10) AS g(i)),
      pts0 AS (SELECT sp.i,
                 (SELECT CAST(sum(CASE WHEN d.doc_id * 10 < nn.n * sp.i THEN d.n_tok ELSE 0 END) AS BIGINT)
                  FROM d, nn) AS tt,
                 (SELECT CAST(sum(CASE WHEN fd.fd * 10 < nn.n * sp.i THEN 1 ELSE 0 END) AS BIGINT)
                  FROM fd, nn) AS vv
               FROM sp),
      pts AS (SELECT i, tt, vv,
                CAST(round(1e6 * ln(tt), 0) AS BIGINT) AS lt,
                CAST(round(1e6 * ln(vv), 0) AS BIGINT) AS lv
              FROM pts0 WHERE tt > 0 AND vv > 0),
      mom AS (SELECT count(*) AS np,
                CAST(sum(lt) AS BIGINT) AS slt, CAST(sum(lv) AS BIGINT) AS slv,
                CAST(sum(lt * lt) AS BIGINT) AS sltt,
                CAST(sum(lt * lv) AS BIGINT) AS sltv,
                CAST(sum(lv * lv) AS BIGINT) AS slvv,
                max(tt) AS tokens, max(vv) AS vocab
              FROM pts)
      SELECT np AS n_checkpoints, tokens, vocab,
             round(CAST(np * sltv - slt * slv AS DOUBLE)
                   / (np * sltt - slt * slt) * 10000.0, 0) / 10000.0 AS beta,
             round(exp((CAST(slv AS DOUBLE) / np
                   - (CAST(np * sltv - slt * slv AS DOUBLE) / (np * sltt - slt * slt))
                     * slt / np) / 1e6) * 10000.0, 0) / 10000.0 AS k_coef,
             round((CAST(np * sltv - slt * slv AS DOUBLE) * (np * sltv - slt * slv))
                   / (CAST(np * sltt - slt * slt AS DOUBLE) * (np * slvv - slv * slv))
                   * 10000.0, 0) / 10000.0 AS r2
      FROM mom"""

  // ---- x130: cohort LTV curve -------------------------------------------------

  /** Cumulative revenue per signup cohort by month offset, per cohort
    * member: cohort = month of a user's first event; offset = months
    * since; ltv_k = Σ cohort revenue in offsets ≤ k / cohort size
    * (exact cents; 4dp via sign-split half-away integer division — the
    * x126 boundary lesson). Output (cohort, offset_m, cohort_users,
    * revenue, cum_revenue, ltv).
    *
    * Scale: ONE user-key hash-agg pins each user's cohort (min ts),
    * one (cohort, offset) hash-agg, and the running sum is a window
    * over the ≤ cohorts×offsets aggregated table only.
    */
  def cohortLtv(
      events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, granularity: String = "month"): DataFrame = {
    require(granularity == "month" || granularity == "week",
      s"cohortLtv: granularity must be month|week, got $granularity")
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val firstTs = events.groupBy(col(userCol).as("user_id"))
      .agg(min(col(tsCol)).as("first_ts"))
      .select(col("user_id"),
        date_trunc(granularity, col("first_ts")).as("cohort"))
    val sized = Extensions.materialized(
      firstTs.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_users")))
    def offset(ts: Column): Column = granularity match {
      case "month" =>
        months_between(date_trunc("month", ts), col("cohort")).cast("long")
      case "week" => // both sides week-truncated -> exact multiples of 7
        (datediff(date_trunc("week", ts), col("cohort")) / lit(7)).cast("long")
    }
    val rev = events
      .select(col(userCol).as("user_id"), col(tsCol).as("ts"), cents.as("cents"))
      .join(firstTs, Seq("user_id"))
      .groupBy(col("cohort"), offset(col("ts")).as("offset_m"))
      .agg(sum(col("cents")).as("rev_cents"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("offset_m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.withColumn("cum_cents", sum(col("rev_cents")).over(w))
      .join(sized, Seq("cohort"))
      .select(date_format(col("cohort"),
          if (granularity == "week") "yyyy-MM-dd" else "yyyy-MM").as("cohort"),
        col("offset_m"), col("cohort_users"),
        (col("rev_cents") / lit(100.0)).as("revenue"),
        (col("cum_cents") / lit(100.0)).as("cum_revenue"),
        expr("(CAST(sign(cum_cents) AS BIGINT) * ((abs(cum_cents) * 100 * 2 + cohort_users) DIV (2 * cohort_users))) / 10000.0D")
          .as("ltv"))
  }

  /** x130: WEEKLY cohort LTV over the events fixture (the fixture spans
    * five weeks in one month, so weekly cohorts exercise the real
    * multi-cohort curve).
    */
  def x130CohortLtv(s: SparkSession, dir: String): DataFrame =
    cohortLtv(Tables.load(s, dir, "events"), "user_id", "ts", "value",
      granularity = "week")

  private val x130OracleSql: String = """
      WITH ft AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
                  FROM events GROUP BY user_id),
      sized AS (SELECT cohort, count(*) AS cohort_users FROM ft GROUP BY cohort),
      rev AS (SELECT ft.cohort,
                CAST(datediff('day', ft.cohort, date_trunc('week', e.ts)) // 7 AS BIGINT) AS offset_m,
                CAST(sum(CAST(round(e.value * 100.0, 0) AS BIGINT)) AS BIGINT) AS rev_cents
              FROM events e JOIN ft USING (user_id)
              GROUP BY 1, 2),
      cum AS (SELECT cohort, offset_m, rev_cents,
                CAST(sum(rev_cents) OVER (PARTITION BY cohort ORDER BY offset_m
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents
              FROM rev)
      SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort, c.offset_m, s.cohort_users,
             c.rev_cents / 100.0 AS revenue,
             c.cum_cents / 100.0 AS cum_revenue,
             (CAST(sign(c.cum_cents) AS BIGINT)
               * ((abs(c.cum_cents) * 100 * 2 + s.cohort_users)
                  // (2 * s.cohort_users))) / 10000.0 AS ltv
      FROM cum c JOIN sized s USING (cohort)
      ORDER BY cohort, offset_m"""

  val entries: Seq[Entry] = Seq(
    Entry("x129_heaps_fit", x129Heaps _, x129OracleSql),
    Entry("x130_cohort_ltv", x130CohortLtv _, x130OracleSql))
}
