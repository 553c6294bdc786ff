package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-twenty-second extension batch — deterministic Poisson
  * bootstrap (x273): nonparametric confidence intervals for grouped
  * means WITHOUT resampling the data through a driver (Chamandy et
  * al. 2012, "Estimating uncertainty for massive data streams" — the
  * production-scale bootstrap). Each (row, replica) draws a
  * Poisson(1) weight, so a replica is a multinomial-bootstrap
  * approximation whose weights stream row-locally: no shared state,
  * no sampling pass, map-side partial aggregation collapses B·N
  * weight rows to (groups · B) partial sums before the only shuffle.
  *
  * Determinism: the weight is inverse-CDF on a 60-bit md5 of
  * (id | replica) reduced to micro-uniform — fixed integer thresholds
  * (the Poisson(1) CDF at 1e-6 precision), so both engines draw the
  * SAME weight for the same (row, replica) and the whole CI replays
  * exactly. Replica means are exact integer divisions (half-up
  * micro); the CI bounds are exact order statistics of the replica
  * means (2.5% / 97.5% at B = 100 → the 3rd and 98th smallest, ties
  * value-stable by definition).
  */
object Extensions122 {

  private val B = 100

  /** Poisson(1) inverse CDF at micro precision: P(0)=e^-1, etc. */
  private val PoisCdfMicro = Seq(367879L, 735759L, 919699L, 981012L,
    996340L, 999406L, 999917L) // weight 7 past the last threshold

  private def poissonWeight(u: Column): Column =
    PoisCdfMicro.zipWithIndex.foldRight(lit(PoisCdfMicro.length): Column) {
      case ((thr, w), rest) => when(u < thr, w).otherwise(rest)
    }

  /** Per-group bootstrap CI card: (group, n_rows, mean_micro,
    * ci_lo_micro, ci_hi_micro, n_replicas) — mean of `valCol` (money
    * cents derived via round(·100)) per `groupCol`, with the
    * [2.5%, 97.5%] Poisson-bootstrap interval over `B` replicas.
    */
  def bootstrapMeanCi(
      rel: DataFrame, groupCol: String, valCol: String, idCol: String): DataFrame = {
    val base = rel.select(col(groupCol).as("g"),
      round(col(valCol) * 100).cast("long").as("cents"),
      col(idCol).cast("string").as("id"))
    // ONE md5 feeds TWO replicas (chars 1-15 and 16-30 of the 32-hex
    // digest are independent 60-bit uniforms) — md5 dominates the
    // per-(row, replica) cost, so pairing halves the whole weight pass;
    // the native Md5Pair60 expression computes both lanes from the
    // digest bytes with zero hex-string round-trips (bit-identical to
    // the conv form the oracle replays — HashPairSpec)
    val reps = base
      .select(col("g"), col("cents"), col("id"),
        explode(sequence(lit(1), lit(B / 2))).as("p"))
      .withColumn("hp", graft.functions.HashFunctions.md5_pair60(
        concat(col("id"), lit("|"), col("p").cast("string"))))
      .select(col("g"), col("cents"),
        explode(array(
          struct((col("p") * 2 - 1).as("b"),
            pmod(element_at(col("hp"), 1), lit(1000000L)).as("u")),
          struct((col("p") * 2).as("b"),
            pmod(element_at(col("hp"), 2), lit(1000000L)).as("u")))).as("r"))
      .select(col("g"), col("cents"), col("r.b").as("b"), col("r.u").as("u"))
      .withColumn("w", poissonWeight(col("u")).cast("long"))
      .groupBy(col("g"), col("b"))
      .agg(sum(col("w") * col("cents")).as("num"), sum(col("w")).as("den"))
      .filter(col("den") > 0)
      // replica mean in micro-dollars: cents·10^4, half-up
      .withColumn("mean_rep",
        expr("(num * 10000 * 2 + den) DIV (2 * den)"))
    val wOrd = Window.partitionBy(col("g")).orderBy(col("mean_rep"), col("b"))
    val cis = reps
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("nb", count(lit(1)).over(Window.partitionBy(col("g"))))
      // exact order statistics: ceil(0.025·nb) and ceil(0.975·nb)
      .filter(col("rn") === expr("(nb * 25 + 999) DIV 1000") ||
        col("rn") === expr("(nb * 975 + 999) DIV 1000"))
      .groupBy(col("g"))
      .agg(min(col("mean_rep")).as("ci_lo_micro"),
        max(col("mean_rep")).as("ci_hi_micro"),
        max(col("nb")).as("n_replicas"))
    val full = base.groupBy(col("g"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sc"))
      .withColumn("mean_micro", expr("(sc * 10000 * 2 + n_rows) DIV (2 * n_rows)"))
    full.join(cis, Seq("g"))
      .select(col("g").as("grp"), col("n_rows"), col("mean_micro"),
        col("ci_lo_micro"), col("ci_hi_micro"), col("n_replicas"))
  }

  /** x273: bootstrap CI of mean order value per order priority. */
  def x273BootstrapCi(s: SparkSession, dir: String): DataFrame =
    bootstrapMeanCi(Tables.load(s, dir, "orders"),
      "o_orderpriority", "o_totalprice", "o_orderkey")

  private val x273OracleSql: String = s"""
      WITH base AS (
        SELECT o_orderpriority AS g,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(o_orderkey AS VARCHAR) AS id
        FROM orders),
      hs AS (
        SELECT g, cents, p, md5(id || '|' || CAST(p AS VARCHAR)) AS hx
        FROM base, UNNEST(generate_series(1, ${B / 2})) AS t(p)),
      reps AS (
        SELECT g, cents, 2 * p - 1 AS b,
               ('0x' || substr(hx, 1, 15))::BIGINT % 1000000 AS u
        FROM hs
        UNION ALL
        SELECT g, cents, 2 * p AS b,
               ('0x' || substr(hx, 16, 15))::BIGINT % 1000000 AS u
        FROM hs),
      wts AS (
        SELECT g, b, cents,
               CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
                    WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
                    WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
                    WHEN u < 999917 THEN 6 ELSE 7 END AS w
        FROM reps),
      rmeans AS (
        SELECT g, b, (sum(w * cents) * 10000 * 2 + sum(w)) // (2 * sum(w))
                 AS mean_rep
        FROM wts GROUP BY g, b HAVING sum(w) > 0),
      ranked AS (
        SELECT g, mean_rep,
               row_number() OVER (PARTITION BY g ORDER BY mean_rep, b) AS rn,
               count(*) OVER (PARTITION BY g) AS nb
        FROM rmeans),
      cis AS (
        SELECT g, CAST(min(mean_rep) AS BIGINT) AS ci_lo_micro,
               CAST(max(mean_rep) AS BIGINT) AS ci_hi_micro,
               CAST(max(nb) AS BIGINT) AS n_replicas
        FROM ranked
        WHERE rn = (nb * 25 + 999) // 1000 OR rn = (nb * 975 + 999) // 1000
        GROUP BY g),
      fullstats AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
               (sum(cents) * 10000 * 2 + count(*)) // (2 * count(*)) AS mean_micro
        FROM base GROUP BY g)
      SELECT f.g AS grp, f.n_rows, CAST(f.mean_micro AS BIGINT) AS mean_micro,
             c.ci_lo_micro, c.ci_hi_micro, c.n_replicas
      FROM fullstats f JOIN cis c USING (g)
      ORDER BY grp"""

  val entries: Seq[Entry] = Seq(
    Entry("x273_bootstrap_ci", x273BootstrapCi _, x273OracleSql))
}
