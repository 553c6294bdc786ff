package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Thirty-sixth extension batch — release-side text hygiene and
  * always-valid experimentation:
  *
  *  - PII scrub (x109): regex-family redaction over a text column —
  *    emails, dashed phone numbers, and long digit runs replace with
  *    typed placeholders, with a per-row redaction count by category.
  *    Training corpora ship ONLY after this pass; the k-anonymity
  *    operators (x106/x108) handle structured quasi-identifiers, this
  *    handles the free-text channel. Patterns stay in the regex subset
  *    Java and RE2 interpret identically (character classes, +, {n,m}
  *    — no lookaround, no backrefs), so the oracle replays verbatim.
  *  - mSPRT sequential A/B monitor (x110): the always-valid mixture
  *    sequential probability ratio test (Johari et al. 2017) — the
  *    "peek whenever you want" replacement for the fixed-horizon
  *    t-test. Computed ENTIRELY from the same exact integer sufficient
  *    statistics as x97 (n, Σ, Σ² per arm), with the mixture variance
  *    a fixed constant: one aggregation pass at any scale, float math
  *    on a 1-row aggregate only, log-form to dodge exp overflow.
  */
object Extensions36 {

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- x109: PII scrub -------------------------------------------------------

  /** The scrub patterns, ordered: each (category, regex, replacement).
    * Order matters (emails contain dots and digits — scrub them before
    * the digit-run rule can eat their local part). All three live in
    * the Java∩RE2 regex subset so Spark and DuckDB agree byte-for-byte.
    */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+[a-zA-Z]", "<EMAIL>"),
    ("phone", "[0-9]{3}-[0-9]{4}", "<PHONE>"),
    ("digit_run", "[0-9]{6,}", "<NUM>"))

  /** Scrub a text column: apply every pattern in order, report the
    * per-category redaction count (counted BEFORE that category's
    * rewrite, on the text as the previous categories left it — so an
    * email's digits are never double-counted as a digit run). Map-only:
    * one codegen stage, no shuffle; the 100 TB cost is the regex CPU.
    */
  def piiScrub(rel: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withCounts = PiiPatterns.foldLeft(
      rel.select(col(idCol).as("row_id"), col(textCol).as("scrubbed"))) {
      case (df, (cat, pat, repl)) =>
        df.withColumn(s"n_$cat",
            (size(split(col("scrubbed"), pat, -1)) - 1).cast("long"))
          .withColumn("scrubbed", regexp_replace(col("scrubbed"), pat, repl))
    }
    withCounts.select(
      col("row_id") +: col("scrubbed") +:
        PiiPatterns.map { case (cat, _, _) => col(s"n_$cat") } :+
        PiiPatterns.map { case (cat, _, _) => col(s"n_$cat") }
          .reduce(_ + _).as("n_redactions"): _*)
  }

  /** x109: scrub deterministic contact notes built from the customer
    * table (the fixture corpus carries no natural PII, so the operator
    * demonstrates on constructed-but-realistic strings: name, derived
    * email, dashed phone, account number). Every redaction category
    * fires; the note construction is identical SQL in both engines.
    */
  def x109PiiScrub(s: SparkSession, dir: String): DataFrame = {
    val note = concat(
      col("c_name"), lit(" reachable at "),
      lower(regexp_replace(col("c_name"), " ", ".")), lit("@example.com or 555-"),
      lpad((col("c_custkey") % 10000L).cast("string"), 4, "0"),
      lit(" acct "), lpad(col("c_custkey").cast("string"), 9, "0"))
    piiScrub(
        table(s, dir, "customer").select(col("c_custkey"), note.as("note")),
        "c_custkey", "note")
  }

  private val x109OracleSql: String = {
    // the same fold, unrolled: count-then-rewrite per category in order
    s"""
    WITH base AS (
      SELECT c_custkey AS row_id,
             c_name || ' reachable at ' || lower(replace(c_name, ' ', '.'))
               || '@example.com or 555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
               || ' acct ' || lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS scrubbed
      FROM customer),
    s1 AS (SELECT row_id,
                  CAST(len(regexp_split_to_array(scrubbed, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+[a-zA-Z]')) - 1 AS BIGINT) AS n_email,
                  regexp_replace(scrubbed, '[a-zA-Z0-9._]+@[a-zA-Z0-9.]+[a-zA-Z]', '<EMAIL>', 'g') AS scrubbed
           FROM base),
    s2 AS (SELECT row_id, n_email,
                  CAST(len(regexp_split_to_array(scrubbed, '[0-9]{3}-[0-9]{4}')) - 1 AS BIGINT) AS n_phone,
                  regexp_replace(scrubbed, '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
           FROM s1),
    s3 AS (SELECT row_id, n_email, n_phone,
                  CAST(len(regexp_split_to_array(scrubbed, '[0-9]{6,}')) - 1 AS BIGINT) AS n_digit_run,
                  regexp_replace(scrubbed, '[0-9]{6,}', '<NUM>', 'g') AS scrubbed
           FROM s2)
    SELECT row_id, scrubbed, n_email, n_phone, n_digit_run,
           n_email + n_phone + n_digit_run AS n_redactions
    FROM s3
    ORDER BY row_id"""
  }

  // ---- x110: mSPRT sequential A/B monitor ------------------------------------

  /** Always-valid two-sample mSPRT readout (Johari et al. 2017): users
    * hash into arms by md5 permille (the x97 assignment), the metric is
    * the per-user post-period cents sum, and the monitor statistic is
    * the normal-mixture likelihood ratio
    *
    *   log Λ = ½·ln(V/(V+τ²)) + τ²·Δ² / (2·V·(V+τ²)),
    *
    * with Δ the arm-mean difference, V = s²_pooled·(1/n_c + 1/n_t) the
    * variance of Δ's estimator, and τ² a FIXED mixture variance (a
    * modelling constant, not data-derived — what makes the p-value
    * always-valid under continuous peeking). p = min(1, e^{−log Λ}).
    *
    * Scale/determinism: one corpus scan → per-user integer cents sums
    * (hash-agg), one 2-row arm agg of exact (n, Σ, Σ²), float math on
    * that single collected-free aggregate row only — identical
    * expression structure in the oracle, 4dp product-form rounds on
    * every emitted float. The log form never materializes e^{logΛ}
    * beyond the min(1, ·) clamp, so a decisive experiment cannot
    * overflow to Inf and hash-diverge.
    */
  def msprtReadout(
      events: DataFrame, userCol: String, tsCol: String, valueCol: String,
      splitTs: String, tauSqCents2: Double = 1.0e8d): DataFrame = {
    val cents = round(col(valueCol) * 100.0d, 0).cast("long")
    val perUser = events
      .filter(col(tsCol) >= to_timestamp(lit(splitTs)))
      .select(col(userCol).as("user_id"), cents.as("cents"))
      .groupBy(col("user_id")).agg(sum(col("cents")).as("y"))
      .withColumn("arm",
        when(pmod(graft.functions.HashFunctions.md5_bucket60(
          col("user_id").cast("string")), lit(2L)) === 0L, lit("control"))
          .otherwise(lit("treatment")))
    val stats = perUser.groupBy(col("arm")).agg(
      count(lit(1)).as("n"), sum(col("y")).as("sy"),
      sum(col("y") * col("y")).as("syy"))
    val wide = stats.groupBy().agg(
      max(when(col("arm") === "control", col("n"))).as("nc"),
      max(when(col("arm") === "control", col("sy"))).as("syc"),
      max(when(col("arm") === "control", col("syy"))).as("syyc"),
      max(when(col("arm") === "treatment", col("n"))).as("nt"),
      max(when(col("arm") === "treatment", col("sy"))).as("syt"),
      max(when(col("arm") === "treatment", col("syy"))).as("syyt"))
    // pooled variance from exact sums (double cross products — the x97
    // overflow discipline); all float math on this single row
    val meanC = col("syc").cast("double") / col("nc")
    val meanT = col("syt").cast("double") / col("nt")
    val ssC = col("syyc") - col("syc").cast("double") * col("syc") / col("nc")
    val ssT = col("syyt") - col("syt").cast("double") * col("syt") / col("nt")
    val s2 = (ssC + ssT) / (col("nc") + col("nt") - 2)
    val v = s2 * (lit(1.0d) / col("nc") + lit(1.0d) / col("nt"))
    val delta = meanT - meanC
    val tau2 = lit(tauSqCents2)
    val logLambda = lit(0.5d) * log(v / (v + tau2)) +
      tau2 * delta * delta / (lit(2.0d) * v * (v + tau2))
    val pRaw = least(lit(1.0d), exp(-logLambda))
    wide.select(
      col("nc").as("n_control"), col("nt").as("n_treatment"),
      round(meanC / 100.0d, 4).as("mean_control"),
      round(meanT / 100.0d, 4).as("mean_treatment"),
      round(delta / 100.0d, 4).as("delta"),
      round(logLambda, 4).as("log_lambda"),
      round(pRaw, 4).as("p_always_valid"),
      (round(pRaw, 4) < 0.05d).as("significant_05"))
  }

  /** x110: [[msprtReadout]] on the events fixture post-period (the x97
    * split), mixture τ = 100 value-units (1e8 cents²).
    */
  def x110Msprt(s: SparkSession, dir: String): DataFrame =
    msprtReadout(table(s, dir, "events"), "user_id", "ts", "value",
      "2024-01-16 00:00:00")

  private val x110OracleSql: String = """
      WITH pu AS (
        SELECT user_id,
               CAST(sum(CAST(round(value * 100.0, 0) AS BIGINT)) AS BIGINT) AS y,
               CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2 = 0
                    THEN 'control' ELSE 'treatment' END AS arm
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
        GROUP BY user_id),
      st AS (SELECT arm, count(*) AS n, CAST(sum(y) AS BIGINT) AS sy,
                    CAST(sum(y * y) AS BIGINT) AS syy
             FROM pu GROUP BY arm),
      wide AS (SELECT
                 max(CASE WHEN arm = 'control' THEN n END) AS nc,
                 max(CASE WHEN arm = 'control' THEN sy END) AS syc,
                 max(CASE WHEN arm = 'control' THEN syy END) AS syyc,
                 max(CASE WHEN arm = 'treatment' THEN n END) AS nt,
                 max(CASE WHEN arm = 'treatment' THEN sy END) AS syt,
                 max(CASE WHEN arm = 'treatment' THEN syy END) AS syyt
               FROM st),
      calc AS (SELECT nc, nt,
                      CAST(syc AS DOUBLE) / nc AS mean_c,
                      CAST(syt AS DOUBLE) / nt AS mean_t,
                      ((syyc - CAST(syc AS DOUBLE) * syc / nc)
                       + (syyt - CAST(syt AS DOUBLE) * syt / nt)) / (nc + nt - 2) AS s2
               FROM wide),
      calc2 AS (SELECT nc, nt, mean_c, mean_t,
                       s2 * (1.0 / nc + 1.0 / nt) AS v,
                       mean_t - mean_c AS delta
                FROM calc),
      calc3 AS (SELECT nc, nt, mean_c, mean_t, v, delta,
                       0.5 * ln(v / (v + 1e8)) + 1e8 * delta * delta / (2.0 * v * (v + 1e8)) AS log_lambda
                FROM calc2)
      SELECT nc AS n_control, nt AS n_treatment,
             round(mean_c / 100.0, 4) AS mean_control,
             round(mean_t / 100.0, 4) AS mean_treatment,
             round(delta / 100.0, 4) AS delta,
             round(log_lambda, 4) AS log_lambda,
             round(least(1.0, exp(-log_lambda)), 4) AS p_always_valid,
             round(least(1.0, exp(-log_lambda)), 4) < 0.05 AS significant_05
      FROM calc3"""

  val entries: Seq[Entry] = Seq(
    Entry("x109_pii_scrub", x109PiiScrub _, x109OracleSql),
    Entry("x110_msprt", x110Msprt _, x110OracleSql))
}
