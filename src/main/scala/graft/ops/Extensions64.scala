package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables
import graft.functions.HashFunctions

/** Sixty-fourth extension batch — is the shuffle shuffled, how big must
  * the test be:
  *
  *  - runs-test shuffle audit (x160): Wald–Wolfowitz runs test per
  *    training shard — dichotomize each stored sequence by its shard
  *    median key, count runs, and read the z-score. A sorted (or
  *    nearly-sorted) shard — the classic curriculum-leak bug where
  *    training order correlates with document age — shows |z| far
  *    from 0; a healthy shuffle hugs it.
  *  - MDE planner (x161): minimum detectable effect at 80% power /
  *    α = 0.05 per metric from exact sufficient statistics — the
  *    "how long must this experiment run" card that belongs next to
  *    the readouts (x97/x110/x135/x151).
  *
  * Determinism discipline: x160's run counts, medians (doubled), and
  * n1/n2 are exact longs; the z step is one shared double expression.
  * x161 keeps (n, Σ, Σ²) in exact cents and evaluates the one
  * MDE formula with z-constants as shared literals.
  */
object Extensions64 {

  // ---- x160: runs-test shuffle audit -------------------------------------------

  /** Wald–Wolfowitz runs test per shard over a stored order: rows are
    * (shard, ord, key); within each shard the sequence dichotomizes by
    * the shard's exact median key (values equal to the median drop —
    * the standard treatment), runs of consecutive same-side values are
    * counted, and z = (R − μ)/σ with μ = 2n1n2/N + 1,
    * σ² = 2n1n2(2n1n2 − N)/(N²(N−1)). Output per shard:
    * (shard, n, n_above, n_below, runs, z) — z NULL when either side
    * is empty (a constant or one-sided shard has no randomness to
    * test).
    *
    * Exactness: the median doubles into half-unit longs, side flags
    * and run boundaries are integer comparisons, and R/n1/n2 are
    * exact; the z step is one shared double expression.
    *
    * Scale: ONE shard-key exchange carries both the median broadcast
    * join and the lag window; per-shard output is a hash-agg. No
    * global sort — order comes from the stored `ord` column.
    */
  def runsTestAudit(
      stored: DataFrame, shardCol: String, ordCol: String,
      keyCol: String): DataFrame = {
    val base = stored.select(col(shardCol).as("shard"),
      col(ordCol).as("ord"), col(keyCol).cast("long").as("k"))
    val med = base.groupBy(col("shard")).agg(
      expr("CAST(round(2.0D * percentile(k, 0.5D), 0) AS BIGINT)").as("med2"))
    val sided = base.join(broadcast(med), Seq("shard"))
      .withColumn("side", when(col("k") * 2L > col("med2"), 1L)
        .when(col("k") * 2L < col("med2"), 0L))
      .filter(col("side").isNotNull)
    val wSeq = Window.partitionBy(col("shard")).orderBy(col("ord"))
    val runs = sided
      .withColumn("prev", lag(col("side"), 1).over(wSeq))
      .withColumn("new_run",
        when(col("prev").isNull || col("prev") =!= col("side"), 1L)
          .otherwise(0L))
      .groupBy(col("shard")).agg(
        count(lit(1)).as("n"),
        sum(col("side")).as("n_above"),
        sum(lit(1L) - col("side")).as("n_below"),
        sum(col("new_run")).as("runs"))
    runs
      .withColumn("z", when(col("n_above") > 0L && col("n_below") > 0L &&
        col("n") > 1L, {
        val p = col("n_above").cast("double") * col("n_below") * 2.0d
        val mu = p / col("n") + 1.0d
        val sg = sqrt(p * (p - col("n")) /
          (col("n").cast("double") * col("n") * (col("n") - 1L)))
        Extensions.round4o((col("runs") - mu) / sg)
      }))
      .select(col("shard"), col("n"), col("n_above"), col("n_below"),
        col("runs"), col("z"))
  }

  /** x160: audit a simulated 4-shard training order of the documents
    * fixture — shard = doc_id%4, order = md5 of the id (a hash
    * shuffle; healthy |z|).
    */
  def x160RunsTest(s: SparkSession, dir: String): DataFrame =
    runsTestAudit(
      Tables.load(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(4L)).as("shard"),
          HashFunctions.md5_bucket60(col("doc_id").cast("string")).as("ord"),
          col("doc_id")),
      "shard", "ord", "doc_id")

  private val x160OracleSql: String = """
      WITH base AS (SELECT doc_id % 4 AS shard,
                      ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS ord,
                      doc_id AS k
                    FROM documents),
      med AS (SELECT shard,
                CAST(round(2.0 * percentile_cont(0.5) WITHIN GROUP (ORDER BY k), 0) AS BIGINT) AS med2
              FROM base GROUP BY shard),
      sided AS (SELECT b.shard, b.ord,
                  CASE WHEN b.k * 2 > m.med2 THEN 1
                       WHEN b.k * 2 < m.med2 THEN 0 END AS side
                FROM base b JOIN med m ON m.shard = b.shard
                WHERE b.k * 2 <> m.med2),
      rr AS (SELECT shard, side,
               CASE WHEN lag(side) OVER (PARTITION BY shard ORDER BY ord) IS NULL
                     OR lag(side) OVER (PARTITION BY shard ORDER BY ord) <> side
                    THEN 1 ELSE 0 END AS new_run
             FROM sided),
      agg AS (SELECT shard, count(*) AS n,
                CAST(sum(side) AS BIGINT) AS n_above,
                CAST(sum(1 - side) AS BIGINT) AS n_below,
                CAST(sum(new_run) AS BIGINT) AS runs
              FROM rr GROUP BY shard)
      SELECT shard, n, n_above, n_below, runs,
             CASE WHEN n_above > 0 AND n_below > 0 AND n > 1 THEN
               round((runs - (CAST(n_above AS DOUBLE) * n_below * 2.0 / n + 1.0))
                 / sqrt(CAST(n_above AS DOUBLE) * n_below * 2.0
                        * (CAST(n_above AS DOUBLE) * n_below * 2.0 - n)
                        / (CAST(n AS DOUBLE) * n * (n - 1)))
                 * 10000.0, 0) / 10000.0
             END AS z
      FROM agg
      ORDER BY shard"""

  // ---- x161: MDE experiment-sizing planner -------------------------------------

  /** Minimum detectable effect per metric (event type) at 80% power and
    * two-sided α = 5%: users split 50/50, metric = per-user sum of
    * `valueCol` for the type (users without the type count as 0 — the
    * intent-to-treat convention), σ² from exact integer sufficient
    * statistics, MDE = (z_{α/2} + z_β)·σ·sqrt(2/n) with
    * z = 1.959964 + 0.841621 (shared literals). Output per type:
    * (event_type, n_per_arm, mean, sigma, mde_abs, mde_rel)
    * — mde_rel NULL on a zero mean.
    *
    * Family sibling: x314 [[Extensions138.mdeCard]] — the one-row
    * integer-exact (DECIMAL moments, population variance, micro)
    * planning card over a caller-supplied unit metric; this form is
    * per-metric with sample variance and 4dp dollars.
    *
    * Scale: one (user, type) hash-agg, one type-level reduce of the
    * sufficient statistics with the user universe counted once — the
    * sizing card of a 10^9-user log costs two aggregation passes.
    */
  def mdePlanner(
      events: DataFrame, userCol: String, typeCol: String,
      valueCol: String): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val perUserType = events
      .select(col(userCol).as("u"), col(typeCol).as("ty"), cents.as("cents"))
      .groupBy(col("u"), col("ty")).agg(sum(col("cents")).as("y"))
    val nUsers = events.select(col(userCol).as("u")).distinct()
      .agg(count(lit(1)).as("nu"))
    // users missing a type contribute y = 0: moments adjust by count
    // difference instead of materializing zero rows
    val per = perUserType.groupBy(col("ty")).agg(
      count(lit(1)).as("npos"),
      sum(col("y")).as("s1"),
      sum(col("y") * col("y")).as("s2"))
    per.crossJoin(broadcast(nUsers))
      .withColumn("mean_c", col("s1").cast("double") / col("nu"))
      .withColumn("var_c",
        (col("s2").cast("double") - col("s1").cast("double") * col("s1") / col("nu"))
          / (col("nu") - 1L))
      .withColumn("n_arm", expr("nu DIV 2"))
      .withColumn("mde_c",
        lit(2.801585d) * sqrt(col("var_c") * 2.0d / col("n_arm")))
      .select(col("ty").as("event_type"), col("n_arm").as("n_per_arm"),
        Extensions.round4o(col("mean_c") / lit(100.0d)).as("mean"),
        Extensions.round4o(sqrt(col("var_c")) / lit(100.0d)).as("sigma"),
        Extensions.round4o(col("mde_c") / lit(100.0d)).as("mde_abs"),
        Extensions.round4o(try_divide(col("mde_c"), col("mean_c")))
          .as("mde_rel"))
  }

  /** x161: how big an experiment does each metric need on the events
    * fixture?
    */
  def x161Mde(s: SparkSession, dir: String): DataFrame =
    mdePlanner(Tables.load(s, dir, "events"), "user_id", "event_type",
      "value")

  private val x161OracleSql: String = """
      WITH put AS (SELECT user_id AS u, event_type AS ty,
                     CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS y
                   FROM events GROUP BY user_id, event_type),
      nu AS (SELECT count(DISTINCT user_id) AS nu FROM events),
      per AS (SELECT ty, count(*) AS npos,
                CAST(sum(y) AS BIGINT) AS s1,
                CAST(sum(y * y) AS BIGINT) AS s2
              FROM put GROUP BY ty),
      m AS (SELECT ty, nu,
              CAST(s1 AS DOUBLE) / nu AS mean_c,
              (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nu) / (nu - 1) AS var_c,
              nu // 2 AS n_arm
            FROM per, nu),
      d AS (SELECT *, 2.801585 * sqrt(var_c * 2.0 / n_arm) AS mde_c FROM m)
      SELECT ty AS event_type, n_arm AS n_per_arm,
             round(mean_c / 100.0 * 10000.0, 0) / 10000.0 AS mean,
             round(sqrt(var_c) / 100.0 * 10000.0, 0) / 10000.0 AS sigma,
             round(mde_c / 100.0 * 10000.0, 0) / 10000.0 AS mde_abs,
             round(mde_c / mean_c * 10000.0, 0) / 10000.0 AS mde_rel
      FROM d
      ORDER BY event_type"""

  val entries: Seq[Entry] = Seq(
    Entry("x160_runs_test", x160RunsTest _, x160OracleSql),
    Entry("x161_mde_planner", x161Mde _, x161OracleSql))
}
