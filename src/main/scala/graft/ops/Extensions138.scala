package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** One-hundred-thirty-eighth extension batch — the experimentation
  * tier's planning/guardrail verbs and the training tier's
  * sample-efficiency question:
  *
  *  - LEARNING-CURVE CARD (x313): validation Brier of the x94
  *    classifier trained on md5 fractions {25, 50, 75, 100}% of the
  *    training fold — the sample-efficiency curve that answers "is
  *    more data still buying accuracy?" before anyone pays for more
  *    data. Four GD chains over one feature table.
  *  - MDE / POWER CARD (x314): the minimum detectable effect of a
  *    two-arm test at α=5%/power 80% given the observed per-user
  *    variance — MDE = (z_{α/2}+z_β)·√(2s²/n), the planning number
  *    every experiment review asks for. Moments exact in cents²;
  *    only the final √ is a micro-rounded double.
  *  - SRM GUARDRAIL (x315): sample-ratio-mismatch check on the md5
  *     50/50 assignment — χ² = (o₁−o₂)²/n with the 95% critical
  *    compare done IN INTEGERS ((o₁−o₂)²·1000 > 3841·n), the
  *    assignment-health gate that invalidates a test before any
  *    metric is read.
  *
  * Determinism: x313 is the x265 machinery at four training masks;
  * x314's (n, Σ, Σ²) are exact DECIMAL cents moments; x315 never
  * leaves integers. Scale: each card is one or a few corpus hash-aggs
  * plus bounded driver composition — experimentation readouts are
  * sufficient-statistic-sized, never row-sized.
  */
object Extensions138 {

  import Extensions26.NumBuckets

  // ---- x313: learning-curve card ------------------------------------------------------

  /** Validation Brier (micro) per training fraction: rows
    * (frac_permille, n_train, brier_micro). Training rows are the
    * non-validation fold (`idCol % 5 != 0`) filtered to
    * md5('lc:'||id) % 1000 < frac; validation is the held-out fold.
    */
  def learningCurve(
      labeled: DataFrame, idCol: String, textCol: String, labelCol: String,
      fracsPermille: Seq[Int] = Seq(250, 500, 750, 1000),
      iters: Int = 8): DataFrame = {
    require(fracsPermille.nonEmpty && fracsPermille.forall(f => f >= 1 && f <= 1000))
    import graft.functions.HashFunctions.md5_bucket60
    val spark = labeled.sparkSession
    import spark.implicits._
    val feat = Extensions.materialized(
      Extensions26.hashedFeatures(labeled, idCol, textCol, labelCol)
        .withColumn("bk",
          pmod(md5_bucket60(concat(lit("lc:"), col("doc_id").cast("string"))),
            lit(1000L))))
    // r14 (guide §2.4): the four fraction chains and their validation
    // collects fuse through the multi-model kernel — iters+2 passes over
    // the feature table instead of 4·(iters+3); per-mask gradients/Σd²
    // are the same exact-integer term multisets, so every weight vector
    // and Brier is bit-identical to the loop this replaces.
    val isVal = pmod(col("doc_id"), lit(5L)) === 0L
    val trained = Extensions26.trainLogregMultiTrace(feat,
      fracsPermille.map(f => Extensions26.LogregSpec(
        Some(pmod(col("doc_id"), lit(5L)) =!= 0L && col("bk") < f.toLong),
        col("y"))),
      iters = iters)
    val sums = Extensions26.brierSumsMulti(feat,
      trained.traces.map(t => (Some(isVal), t.last)))
    val rows = fracsPermille.zipWithIndex.map { case (f, i) =>
      val (nv, s2) = sums(i)
      val b = ((s2 * 2 + BigInt(nv) * 1000000L) /
        (BigInt(nv) * 2000000L)).toLong
      (f.toLong, trained.ns(i), b)
    }
    rows.toDF("frac_permille", "n_train", "brier_micro")
  }

  /** x313: the x94/x265 world's sample-efficiency curve — Gopher keep
    * labels, hashed text features, validation fold doc_id % 5 = 0.
    */
  def x313LearningCurve(s: SparkSession, dir: String): DataFrame = {
    val labeled = Extensions20.gopherRuleCard(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        carryCols = Seq("text"))
      .select(col("doc_id"), col("text"), col("keep").cast("long").as("label"))
    learningCurve(labeled, "doc_id", "text", "label")
  }

  private val x313Fracs = Seq(250, 500, 750, 1000)

  private val x313OracleSql: String = {
    val F = NumBuckets
    val head = s"""WITH d AS (
      SELECT doc_id, text, string_split(lower(text), ' ') AS tk
      FROM documents),
    f0 AS (SELECT doc_id, tk,
              CAST(len(tk) AS BIGINT) AS n_words,
              list_aggregate(list_transform(tk, t -> length(t)), 'sum') AS sum_len,
              len(list_filter(tk, t -> t IN ('the', 'a'))) AS n_stop,
              CASE WHEN len(tk) >= 2
                   THEN list_transform(generate_series(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i+1])
                   ELSE [] END AS g2
       FROM d),
    lab AS (SELECT doc_id, tk,
        CASE WHEN n_words BETWEEN 50 AND 100000
              AND round(sum_len * 10000.0 / n_words, 0) / 10000.0 BETWEEN 3.0 AND 10.0
              AND round(n_stop * 10000.0 / n_words, 0) / 10000.0 <= 0.25
              AND (CASE WHEN len(g2) > 0
                        THEN round((len(g2) - len(list_distinct(g2))) * 10000.0 / len(g2), 0) / 10000.0
                        ELSE 0.0 END) <= 0.2
             THEN 1 ELSE 0 END AS y
        FROM f0),
    feat AS MATERIALIZED (
      SELECT doc_id, CAST(y AS BIGINT) AS y,
             ('0x' || substr(md5('lc:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000 AS bk,
             list_append(list_transform(generate_series(0, ${F - 1}),
               j -> CAST(len(list_filter(bks, b -> b = j)) AS BIGINT)), CAST(1 AS BIGINT)) AS x
      FROM (SELECT doc_id, y,
                   list_transform(tk, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % $F) AS bks
            FROM lab)),
    vl AS MATERIALIZED (SELECT y, x FROM feat WHERE doc_id % 5 = 0)"""
    val chains = x313Fracs.map(f =>
      Extensions117.chainG(s"f${f}_", 8, s"doc_id % 5 <> 0 AND bk < $f"))
    def brier(p: String): String =
      s"""(SELECT (2 * sum(d * d) + count(*) * 1000000)
            // (2 * count(*) * 1000000) FROM (
          SELECT CAST(round(1e6 / (1.0 + exp(
              -CAST(list_sum(list_transform(generate_series(1, ${F + 1}),
                j -> w.w[j] * v.x[j])) AS BIGINT) / 1e6)), 0) AS BIGINT)
            - v.y * 1000000 AS d
          FROM vl v, ${p}w8 w))"""
    val rows = x313Fracs.map { f =>
      s"""SELECT CAST($f AS BIGINT) AS frac_permille,
          (SELECT CAST(count(*) AS BIGINT) FROM feat
           WHERE doc_id % 5 <> 0 AND bk < $f) AS n_train,
          CAST(${brier(s"f${f}_")} AS BIGINT) AS brier_micro"""
    }.mkString("\n        UNION ALL ")
    s"""$head,${chains.mkString(",")}
    SELECT * FROM ($rows) ORDER BY frac_permille"""
  }

  // ---- x314: MDE / power card ----------------------------------------------------------

  /** Two-arm planning card over a per-unit metric (cents): one row
    * (n_units, n_per_arm, mean_cents_micro, var_cents2_micro,
    * mde_cents_micro) — MDE at α = 5% (two-sided) / 80% power:
    * (1.959964 + 0.841621)·√(2·s²/n_arm). Variance from exact
    * DECIMAL moments (n·Σv²−(Σv)², the width-sweep form); only the
    * final √ is a HALF_UP-rounded double.
    *
    * Family sibling: x161 [[Extensions64.mdePlanner]] — same
    * 2.801585·√(2σ²/n_arm) sizing, PER metric with sample variance and
    * 4dp dollars there vs one-row integer-exact population-variance
    * micro here; the arithmetic discipline is the delta, so the two
    * keep separate paths (a shared kernel would move hash-pinned
    * values).
    */
  def mdeCard(units: DataFrame, metricCentsCol: String): DataFrame = {
    val spark = units.sparkSession
    import spark.implicits._
    val row = units.select(col(metricCentsCol).cast("long").as("v"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(38,0)")).as("s"),
        sum((col("v").cast("decimal(38,0)") * col("v")).cast("decimal(38,0)"))
          .as("s2"))
      .collect()(0)
    val n = row.getLong(0)
    require(n >= 2, "mdeCard: need at least two units")
    val s = BigInt(row.getDecimal(1).toBigInteger)
    val s2 = BigInt(row.getDecimal(2).toBigInteger)
    def hb(num: BigInt, den: BigInt): Long =
      ((num * 2 + den) / (den * 2)).toLong
    val meanMicro = hb(s * 1000000, BigInt(n))
    // population variance in cents², micro-rendered: (n·Σv²−(Σv)²)/n²
    val varNum = BigInt(n) * s2 - s * s
    val varMicro = hb(varNum * 1000000, BigInt(n) * n)
    val nArm = n / 2
    val mde = BigDecimal(2801585e-6 *
        math.sqrt(2.0 * (varMicro.toDouble / 1e6) / nArm.toDouble) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    Seq((n, nArm, meanMicro, varMicro, mde))
      .toDF("n_units", "n_per_arm", "mean_cents_micro", "var_cents2_micro",
        "mde_cents_micro")
  }

  /** x314: per-user total event value (cents) — how big an effect the
    * events population could even detect.
    */
  def x314MdeCard(s: SparkSession, dir: String): DataFrame =
    mdeCard(
      Tables.load(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100, 0).cast("long")).as("cents")),
      "cents")

  private val x314OracleSql: String = """
      WITH u AS (SELECT user_id, CAST(sum(round(value * 100, 0)) AS BIGINT) AS v
                 FROM events GROUP BY user_id),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(v) AS HUGEINT) AS s,
                   CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS s2
            FROM u)
      SELECT n AS n_units, n // 2 AS n_per_arm,
             CAST((s * 1000000 * 2 + n) // (2 * n) AS BIGINT) AS mean_cents_micro,
             CAST(((n * s2 - s * s) * 1000000 * 2 + n * n) // (2 * n * n) AS BIGINT)
               AS var_cents2_micro,
             CAST(round(2801585e-6 * sqrt(2.0 *
                 (CAST(((n * s2 - s * s) * 1000000 * 2 + n * n) // (2 * n * n) AS DOUBLE)
                  / 1e6) / CAST(n // 2 AS DOUBLE)) * 1e6, 0) AS BIGINT)
               AS mde_cents_micro
      FROM m"""

  // ---- x315: SRM guardrail ---------------------------------------------------------------

  /** Sample-ratio-mismatch gate on an md5 50/50 unit split: one row
    * (n, n_a, n_b, chi2_micro, srm_flag) with χ² = (n_a−n_b)²/n and
    * the 95% critical compare in pure integers
    * ((n_a−n_b)²·1000 > 3841·n).
    *
    * Family sibling: x123 [[Extensions45.srmCheck]] — the k-arm
    * design-spine form whose per-arm contributions micro-quantize
    * BEFORE the cross-arm sum; for a 500/500 design the statistics
    * agree mathematically ((n_a−n_b)²/n = Σ contribs) but not always
    * to the last micro, so the integer-exact 2-arm gate here stays its
    * own path.
    */
  def srmCheck(units: DataFrame, unitCol: String,
      saltPrefix: String = "ab:"): DataFrame = {
    import graft.functions.HashFunctions.md5_bucket60
    units
      .select(pmod(md5_bucket60(concat(lit(saltPrefix),
        col(unitCol).cast("string"))), lit(2L)).as("arm"))
      .agg(count(lit(1)).as("n"),
        sum((col("arm") === 0L).cast("long")).as("n_a"),
        sum(col("arm")).as("n_b"))
      .select(col("n"), col("n_a"), col("n_b"),
        // diff² rides in DECIMAL — a total assignment failure makes
        // diff ~ n and a long diff²·10⁶ wraps near n ~ 3e6 (width rule)
        expr("CAST((CAST(n_a - n_b AS DECIMAL(38,0)) * (n_a - n_b) * 1000000 * 2 + n)" +
          " DIV (2 * n) AS BIGINT)").as("chi2_micro"),
        expr("CAST(n_a - n_b AS DECIMAL(38,0)) * (n_a - n_b) * 1000 > " +
          "CAST(3841 AS DECIMAL(38,0)) * n").as("srm_flag"))
  }

  /** x315: the event-user split's assignment health. */
  def x315SrmCheck(s: SparkSession, dir: String): DataFrame =
    srmCheck(
      Tables.load(s, dir, "events").select(col("user_id")).distinct(),
      "user_id")

  private val x315OracleSql: String = """
      WITH a AS (SELECT ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2 AS arm
                 FROM (SELECT DISTINCT user_id FROM events)),
      m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                   CAST(sum(arm) AS BIGINT) AS n_b
            FROM a)
      SELECT n, n_a, n_b,
             ((n_a - n_b) * (n_a - n_b) * 1000000 * 2 + n) // (2 * n) AS chi2_micro,
             (n_a - n_b) * (n_a - n_b) * 1000 > 3841 * n AS srm_flag
      FROM m"""

  val entries: Seq[Entry] = Seq(
    Entry("x313_learning_curve", x313LearningCurve _, x313OracleSql),
    Entry("x314_mde_card", x314MdeCard _, x314OracleSql),
    Entry("x315_srm_check", x315SrmCheck _, x315OracleSql))
}
