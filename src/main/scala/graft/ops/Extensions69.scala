package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Sixty-ninth extension batch — who matters NOW, who holds the money:
  *
  *  - decayed engagement (x170): exponentially time-decayed spend per
  *    user (half-life weighting — the recency-aware LTV every ranking
  *    and re-engagement list actually uses) with a deterministic
  *    top-k. The x130 LTV curve prices a cohort's past; this ranks
  *    users by their decaying present.
  *  - Gini concentration (x171): how concentrated is revenue across
  *    users, per event type — the exact Gini coefficient computed off
  *    the VALUE GRID (the x157 trick), so no row-level rank window
  *    and no global sort, with ties handled exactly.
  *
  * Determinism discipline: x170 quantizes each event's decayed
  * contribution to a 1e-4-dollar long BEFORE the per-user sum (the
  * decay factor is exp(dt·K) with K embedded as ONE 17-digit literal
  * in both engines); x171 is exact longs end to end — G = (T2 −
  * (n+1)·S) / (n·S) renders by a single sign-split division.
  */
object Extensions69 {

  // ---- x170: decayed engagement score ------------------------------------------

  /** Half-life-decayed engagement: score(u) = Σ value·2^(−age/halfLife)
    * with age measured from the corpus's max timestamp. Output
    * top-`topK` ordered: (rank, user_id, n_events, score) — score in
    * dollars, 4dp; ranking on the exact quantized long with user-id
    * tie-break.
    *
    * Determinism: the decay weight is exp(dt_us · K) with
    * K = ln2/(halfLife·86400e6) applied to dt = t − ref ≤ 0 rendered once as a 17-significant-
    * digit literal shared by both engines (decimal → double
    * round-trips exactly); each event's cents·w quantizes to a
    * 1e-4-dollar long before the user sum, so partial-sum order can't
    * move a score.
    *
    * Scale: one 1-row max broadcast, one map pass, one user hash-agg,
    * a TakeOrdered cut.
    */
  def decayedEngagement(
      events: DataFrame, userCol: String, tsCol: String, valueCol: String,
      halfLifeDays: Double = 7.0, topK: Int = 20): DataFrame = {
    require(halfLifeDays > 0.0)
    // t - ref <= 0, so the POSITIVE constant gives exp(negative) = decay
    val k = math.log(2.0) / (halfLifeDays * 86400e6)
    val kLit = "%.17e".format(k)
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val ref = events.agg(max(unix_micros(col(tsCol))).as("ref_us"))
    val scored = events
      .select(col(userCol).as("user_id"), unix_micros(col(tsCol)).as("t"),
        cents.as("cents"))
      .crossJoin(broadcast(ref))
      .withColumn("q", expr(
        s"CAST(round(cents * exp((t - ref_us) * ${kLit}D) * 100.0D, 0) AS BIGINT)"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("q")).as("sq"))
    scored
      .orderBy(col("sq").desc, col("user_id"))
      .limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("sq").desc, col("user_id"))).cast("long"))
      .select(col("rank"), col("user_id"), col("n_events"),
        (col("sq") / lit(10000.0d)).as("score"))
  }

  /** x170: top-20 users by 7-day-half-life decayed spend. */
  def x170Decayed(s: SparkSession, dir: String): DataFrame =
    decayedEngagement(Tables.load(s, dir, "events"), "user_id", "ts",
      "value")

  private val x170OracleSql: String = {
    val k = math.log(2.0) / (7.0 * 86400e6)
    val kLit = "%.17e".format(k)
    s"""
      WITH ref AS (SELECT max(epoch_us(ts)) AS ref_us FROM events),
      sc AS (SELECT user_id,
               CAST(round(CAST(round(value * 100.0, 0) AS BIGINT)
                 * exp((epoch_us(ts) - ref.ref_us) * $kLit) * 100.0, 0) AS BIGINT) AS q
             FROM events, ref),
      pu AS (SELECT user_id, count(*) AS n_events, CAST(sum(q) AS BIGINT) AS sq
             FROM sc GROUP BY user_id),
      top AS (SELECT * FROM pu ORDER BY sq DESC, user_id LIMIT 20)
      SELECT CAST(row_number() OVER (ORDER BY sq DESC, user_id) AS BIGINT) AS rank,
             user_id, n_events, sq / 10000.0 AS score
      FROM top
      ORDER BY rank"""
  }

  // ---- x171: Gini concentration ------------------------------------------------

  /** Exact Gini coefficient of per-user metric sums, per group: with
    * users sorted by value ascending, G = (2·Σ i·x_i)/(n·S) − (n+1)/n
    * = (T2 − (n+1)·S)/(n·S), where a tied value class (v, c) at
    * cumulative-count-before cb contributes v·(2·c·cb + c² + c) to T2
    * — exact off the value grid, no row-level ranks. Output per group:
    * (group_key, n_users, total, gini) — gini NULL when
    * S ≤ 0 (the coefficient is undefined without positive mass).
    *
    * Exactness: T2/S/n are exact longs (headroom: v·n² per class —
    * exact to ~1e8 cents · (2e5 users)²); the single division renders
    * sign-split 4dp.
    *
    * Scale: one (group, user) hash-agg, one value-grid hash-agg, grid
    * windows partitioned by group — the x157 shape.
    */
  def giniConcentration(
      events: DataFrame, groupCol: String, userCol: String,
      valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val perUser = events
      .select(col(groupCol).as("g"), col(userCol).as("u"), cents.as("cents"))
      .groupBy(col("g"), col("u")).agg(sum(col("cents")).as("y"))
    val grid = perUser.groupBy(col("g"), col("y"))
      .agg(count(lit(1)).as("c"))
    // round-14: the per-group cumulative counts ride GridStats.withBelow
    // (grouped distributed prefix sum) — a window PARTITIONED by a
    // handful of event types is still a one-task-per-group sort of a
    // corpus-derived value grid
    val t2 = GridStats.withBelow(grid, Seq("g"), "y", Seq("c"))
      .withColumnRenamed("below_c", "cb")
      .groupBy(col("g")).agg(
        sum(col("c")).as("n"),
        // width audit (r12): c·cb multiplies two user-count quantities
        // and y·(…) stacks a cents total on top — at 1e9 users the
        // per-row term reaches ~1e27, far past a long. The rank-sum
        // moments and the gnum/gden compositions run in DECIMAL(38,0)
        // (bound ~1e28 < 1e38); the DIV in the gini render returns a
        // long as before, so output types are unchanged.
        sum(col("y").cast("decimal(38,0)") * col("c")).as("s"),
        sum(col("y").cast("decimal(38,0)") * (lit(2L) *
          col("c").cast("decimal(38,0)") * col("cb") +
          col("c").cast("decimal(38,0)") * col("c") + col("c"))).as("t2"))
    t2
      .withColumn("gnum", col("t2") - (col("n") + 1L) * col("s"))
      .withColumn("gden", col("n") * col("s"))
      .select(col("g").as("group_key"), col("n").as("n_users"),
        (col("s") / lit(100.0d)).as("total"),
        when(col("gden") > 0L, expr(
          "(CAST(sign(gnum) AS BIGINT) * ((abs(gnum) * 10000 * 2 + gden) DIV (2 * gden))) / 10000.0D"))
          .as("gini"))
  }

  /** x171: revenue concentration across users, per event type. */
  def x171Gini(s: SparkSession, dir: String): DataFrame =
    giniConcentration(Tables.load(s, dir, "events"), "event_type",
      "user_id", "value")

  private val x171OracleSql: String = """
      WITH pu AS (SELECT event_type AS g, user_id AS u,
                    CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS y
                  FROM events GROUP BY event_type, user_id),
      grid AS (SELECT g, y, count(*) AS c FROM pu GROUP BY g, y),
      cb AS (SELECT *, CAST(coalesce(sum(c) OVER (PARTITION BY g ORDER BY y
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cbb
             FROM grid),
      t2 AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(y * c) AS BIGINT) AS s,
               CAST(sum(y * (2 * c * cbb + c * c + c)) AS BIGINT) AS t2
             FROM cb GROUP BY g),
      fin AS (SELECT g, n, s, t2 - (n + 1) * s AS gnum, n * s AS gden FROM t2)
      SELECT g AS group_key, n AS n_users, s / 100.0 AS total,
             CASE WHEN gden > 0 THEN
               (CAST(sign(gnum) AS BIGINT)
                 * ((abs(gnum) * 10000 * 2 + gden) // (2 * gden))) / 10000.0
             END AS gini
      FROM fin
      ORDER BY group_key"""

  val entries: Seq[Entry] = Seq(
    Entry("x170_decayed_engagement", x170Decayed _, x170OracleSql),
    Entry("x171_gini", x171Gini _, x171OracleSql))
}
