package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-forty-first extension batch — offline policy
  * evaluation, the counterfactual question x310's replay left open:
  *
  *  - IPS / SNIPS POLICY VALUE (x320): Horvitz–Thompson importance
  *    sampling (Li et al. 2011) — estimate what a TARGET policy would
  *    have earned from logs collected under a DIFFERENT policy:
  *    V̂_IPS = (1/N)·Σ 1[π(x)=a]·r/p̂(a), with p̂ the logging policy's
  *    empirical marginals (the standard fallback when true
  *    propensities were not logged) and SNIPS the self-normalized
  *    form that trades a little bias for much smaller variance.
  *
  * Determinism: the per-arm inverse propensities are micro-quantized
  * ONCE (wq_a = halfup(10⁶·N, n_a)); matched reward/count masses are
  * exact longs; the two estimates are single half-up divisions of
  * DECIMAL sums. Scale: one corpus pass for the marginals, one for
  * the matched masses — a 5-row arm table does the rest.
  */
object Extensions141 {

  /** One-row policy-value card: (n, n_match, ips_micro, snips_micro).
    * `actionCol` is the logged action, `rewardCol` a 0/1 outcome,
    * `targetCol` the target policy's action for the same context row.
    */
  def ipsPolicyValue(
      logs: DataFrame, actionCol: String, rewardCol: String,
      targetCol: String): DataFrame = {
    val base = logs.select(col(actionCol).cast("string").as("a"),
      col(rewardCol).cast("long").as("r"),
      col(targetCol).cast("string").as("pi"))
    val arms = base.groupBy(col("a"))
      .agg(count(lit(1)).as("na"),
        sum(when(col("pi") === col("a"), col("r")).otherwise(0L)).as("mr"),
        sum(when(col("pi") === col("a"), 1L).otherwise(0L)).as("mc"))
    val tot = base.agg(count(lit(1)).as("n"))
    arms.crossJoin(broadcast(tot))
      // widths: 10⁶·N wraps a long past N ~ 4.6e12 and mr·wq well
      // before that — the inverse-propensity arithmetic rides DECIMAL
      .withColumn("wq", expr(
        "CAST((CAST(1000000 AS DECIMAL(38,0)) * n * 2 + na) DIV (2 * na) AS BIGINT)"))
      .agg(max(col("n")).as("n"),
        sum(col("mc")).as("n_match"),
        sum(col("mr").cast("decimal(38,0)") * col("wq")).as("sr"),
        sum(col("mc").cast("decimal(38,0)") * col("wq")).as("sc"))
      .select(col("n"), col("n_match"),
        expr("CAST((sr * 2 + n) DIV (2 * n) AS BIGINT)").as("ips_micro"),
        expr("CAST(CASE WHEN sc = 0 THEN 0 " +
          "ELSE (sr * 1000000 * 2 + sc) DIV (2 * sc) END AS BIGINT)")
          .as("snips_micro"))
  }

  /** x320: logs = the event stream (action = event type, reward =
    * value ≥ 50); target policy = each user's md5-preferred type —
    * what would the personalized policy have earned.
    */
  def x320IpsPolicyValue(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions.md5_bucket60
    val types = Seq("click", "error", "purchase", "signup", "view")
    val tgt = array(types.map(lit): _*)(
      pmod(md5_bucket60(concat(lit("pi:"), col("user_id").cast("string"))),
        lit(types.size.toLong)).cast("int"))
    ipsPolicyValue(
      Tables.load(s, dir, "events")
        .select(col("event_type"), (col("value") >= 50.0d).cast("long").as("r"),
          tgt.as("pi")),
      "event_type", "r", "pi")
  }

  private val x320OracleSql: String = """
      WITH lg AS (SELECT event_type AS a,
             CASE WHEN value >= 50 THEN 1 ELSE 0 END AS r,
             ['click', 'error', 'purchase', 'signup', 'view']
               [1 + ('0x' || substr(md5('pi:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 5]
               AS pi
           FROM events),
      arms AS (SELECT a, CAST(count(*) AS BIGINT) AS na,
                 CAST(sum(CASE WHEN pi = a THEN r ELSE 0 END) AS BIGINT) AS mr,
                 CAST(sum(CASE WHEN pi = a THEN 1 ELSE 0 END) AS BIGINT) AS mc
               FROM lg GROUP BY a),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lg),
      wts AS (SELECT arms.*, tot.n,
                (1000000 * tot.n * 2 + na) // (2 * na) AS wq
              FROM arms, tot),
      ag AS (SELECT max(n) AS n, CAST(sum(mc) AS BIGINT) AS n_match,
               CAST(sum(mr * wq) AS HUGEINT) AS sr,
               CAST(sum(mc * wq) AS HUGEINT) AS sc
             FROM wts)
      SELECT CAST(n AS BIGINT) AS n, n_match,
             CAST((sr * 2 + n) // (2 * n) AS BIGINT) AS ips_micro,
             CAST(CASE WHEN sc = 0 THEN 0
                  ELSE (sr * 1000000 * 2 + sc) // (2 * sc) END AS BIGINT)
               AS snips_micro
      FROM ag"""

  val entries: Seq[Entry] = Seq(
    Entry("x320_ips_policy_value", x320IpsPolicyValue _, x320OracleSql))
}
