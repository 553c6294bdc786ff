package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** One-hundred-thirty-third extension batch — the eval tier's sampled
  * solve-rate estimator, the causal tier's doubly-robust closer, and
  * the behavioral path card:
  *
  *  - pass@k (x298): the unbiased estimator over n samples per task
  *    (Chen et al. 2021, "Evaluating LLMs Trained on Code"):
  *    pass@k = E_task[1 − C(n−c,k)/C(n,k)] where c = samples passing.
  *    The naive mean of per-sample pass rates is biased for k > 1; the
  *    combinatorial form is exact — and exactly replayable, because
  *    with n bounded the falling factorials are small integers.
  *  - AIPW doubly-robust ATE (x299): augmented inverse-propensity
  *    weighting (Robins, Rotnitzky & Zhao 1994) — the estimator that is
  *    consistent if EITHER the propensity model OR the outcome model is
  *    right. Emits the regression-only and Horvitz–Thompson IPW ATEs
  *    beside the DR one, all three on the same scored table, so the
  *    causal tier's model-choice sensitivity reads off one row.
  *  - event-path card (x300): top-20 first-`depth` event-type paths
  *    per user (the Sankey/path-analysis verb) — the one behavioral
  *    aggregate the funnel (x85), session (q34/x194), and Markov
  *    (x166) cards don't cover: the literal ordered prefix.
  *
  * Determinism: x298 is all-integer once c is counted (falling
  * factorials, half-up micro renders); x299 quantizes every per-row
  * adjustment with sign-split half-away division BEFORE the corpus sum
  * (DECIMAL(38,0) — terms reach ~1e8 micro, so a long sum would wrap
  * near 1e11 rows); x300 orders by the (ts, event_id) total order and
  * builds each path from an array_sort on the rank, never from
  * collect_list order.
  */
object Extensions133 {

  import Extensions26.NumBuckets

  /** Sign-split round-half-away-from-zero integer division as a SQL
    * fragment — textually identical in Spark and DuckDB modulo the
    * integer-division token, which the caller picks.
    */
  private def sdivSql(num: String, den: String, divTok: String): String =
    s"CAST(sign($num) AS BIGINT) * ((abs($num) * 2 + ($den)) $divTok (2 * ($den)))"

  private def marginMicro(weights: Array[Long], x: Column): Column =
    graft.functions.VectorFunctions.long_dot(
      array(weights.map(lit(_)): _*), x)

  // ---- x298: pass@k unbiased estimator -------------------------------------------

  /** Mean unbiased pass@k over tasks, one row per k: (k, n_tasks,
    * mean_pass_at_k_micro). `samples` is one row per (task, attempt)
    * with 0/1 `passCol`; tasks with fewer than k samples are excluded
    * from that k's mean (the estimator is undefined there), and
    * `n_tasks` records the denominator actually used.
    *
    * Per task: pass@k = 1 − Π_{i<k}(n−c−i)/Π_{i<k}(n−i), rendered
    * half-up to micro; the per-k mean is a second half-up division of
    * an exact DECIMAL sum. Samples-per-task is loudly capped at
    * `maxSamplesPerTask` (default 30) so the falling factorials stay
    * inside long range ((30)_8·1e6 ≈ 2.4e17 < 2^63) — real eval suites
    * sample 1–200 attempts; raise the cap only with a wider render.
    *
    * Scale: one hash-agg to the per-task (n, c) table, then a bounded
    * k-spine broadcast over it — the corpus (sample rows) is touched
    * exactly once, and everything after the first agg is O(tasks·|ks|).
    */
  def passAtK(
      samples: DataFrame, taskCol: String, passCol: String,
      ks: Seq[Int] = Seq(1, 2, 4, 8),
      maxSamplesPerTask: Long = 30L): DataFrame = {
    require(ks.nonEmpty && ks.forall(k => k >= 1 && k <= maxSamplesPerTask),
      s"passAtK: ks must be in [1, $maxSamplesPerTask]")
    // width (r13 table): the "raise maxSamplesPerTask knowingly" escape
    // hatch silently wraps once C(n, n/2)·2e6 crosses 2^63 (~n = 46) —
    // the long-exact combinatorics are only exact under this bound
    require(maxSamplesPerTask <= 40L,
      "passAtK: maxSamplesPerTask above 40 overflows the long-exact " +
        "binomials (C(n, n/2)*2e6 crosses 2^63 near n = 46) — widen to " +
        "DECIMAL before raising the cap")
    val spark = samples.sparkSession
    import spark.implicits._
    val byTask = Extensions.materialized(
      samples.groupBy(col(taskCol).as("task"))
        .agg(count(lit(1)).as("n"), sum(col(passCol).cast("long")).as("c")))
    val nMax = byTask.agg(max(col("n"))).collect()(0).getLong(0)
    require(nMax <= maxSamplesPerTask,
      s"passAtK: a task has $nMax samples > cap $maxSamplesPerTask — the " +
        "long-exact falling factorials need n bounded; subsample attempts " +
        "or raise maxSamplesPerTask knowingly")
    val kSpine = broadcast(ks.map(_.toLong).toDF("k"))
    val withK = byTask.join(kSpine, col("n") >= col("k"))
    def falling(base: Column, k: Int): Column =
      (0 until k).map(i => base - lit(i.toLong)).reduce(_ * _)
    def perK(base: Column): Column =
      ks.tail.foldLeft(when(col("k") === ks.head.toLong, falling(base, ks.head))) {
        (acc, k) => acc.when(col("k") === k.toLong, falling(base, k))
      }
    withK
      .withColumn("num", perK(col("n") - col("c")))
      .withColumn("den", perK(col("n")))
      .withColumn("pk_micro",
        expr("((den - num) * 1000000 * 2 + den) DIV (2 * den)"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_tasks"),
        sum(col("pk_micro").cast("decimal(38,0)")).as("s"))
      .select(col("k"), col("n_tasks"),
        expr("CAST((s * 2 + n_tasks) DIV (2 * n_tasks) AS BIGINT)")
          .as("mean_pass_at_k_micro"))
  }

  /** x298: pass@k ∈ {1,2,4,8} over a deterministic 8-attempt eval
    * fixture — task = document, per-task difficulty and per-attempt
    * outcomes both md5-derived, pass rates spread over [0.2, 0.8).
    */
  def x298PassAtK(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions.md5_bucket60
    val samples = Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        (pmod(md5_bucket60(concat(lit("d:"), col("doc_id").cast("string"))),
          lit(600L)) + lit(200L)).as("diff"))
      .withColumn("i", explode(sequence(lit(0), lit(7))))
      .select(col("doc_id"),
        (pmod(md5_bucket60(concat(col("doc_id").cast("string"), lit(":"),
          col("i").cast("string"))), lit(1000L)) < col("diff"))
          .cast("long").as("passed"))
    passAtK(samples, "doc_id", "passed")
  }

  private val x298Ks = Seq(1, 2, 4, 8)

  private val x298OracleSql: String = {
    def falling(base: String, k: Int): String =
      (0 until k).map(i => s"($base - $i)").mkString(" * ")
    def arms(base: String): String =
      x298Ks.init.map(k => s"WHEN ${k} THEN ${falling(base, k)}")
        .mkString("CASE k ", " ", s" ELSE ${falling(base, x298Ks.last)} END")
    s"""WITH t AS (SELECT doc_id,
             200 + ('0x' || substr(md5('d:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 600 AS diff
           FROM documents),
    s AS (SELECT doc_id,
            CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                   CAST(u.i AS VARCHAR)), 1, 15))::BIGINT % 1000 < diff
                 THEN 1 ELSE 0 END AS p
          FROM t, UNNEST(generate_series(0, 7)) AS u(i)),
    bt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(p) AS BIGINT) AS c
           FROM s GROUP BY 1),
    kk AS (SELECT CAST(unnest([${x298Ks.mkString(", ")}]) AS BIGINT) AS k),
    pk AS (SELECT k, doc_id,
             ${arms("n - c")} AS num,
             ${arms("n")} AS den
           FROM bt, kk WHERE n >= k),
    pm AS (SELECT k, doc_id,
             ((den - num) * 1000000 * 2 + den) // (2 * den) AS pk_micro
           FROM pk)
    SELECT k, CAST(count(*) AS BIGINT) AS n_tasks,
           CAST((sum(pk_micro) * 2 + count(*)) // (2 * count(*)) AS BIGINT)
             AS mean_pass_at_k_micro
    FROM pm GROUP BY k ORDER BY k"""
  }

  // ---- x299: AIPW doubly-robust ATE -----------------------------------------------

  /** One-row doubly-robust card: (n, n_treated, reg_ate_micro,
    * ipw_ate_micro, dr_ate_micro) — the outcome-regression-only, the
    * Horvitz–Thompson IPW, and the AIPW ATE side by side.
    *
    * Three x94 GD chains over ONE materialized feature table: the
    * propensity e(x) on all rows (label = treatment, clipped to
    * [clipLo, clipHi]), and outcome models m₁/m₀ on the treated /
    * control subsets (label = outcome, unclipped). Per row:
    *   dr_i = (m₁−m₀) + T·sdiv((Y−m₁)·10⁶, e) − (1−T)·sdiv((Y−m₀)·10⁶, 10⁶−e)
    * with every division sign-split half-away BEFORE the sum; terms
    * reach 10⁶/clipLo·10⁶ ≈ 10⁸ micro, so the three corpus sums ride in
    * DECIMAL(38,0) (the r12 width discipline) and only the one-row
    * means divide back to long micro.
    *
    * Scale: one corpus featurization + 3·iters bounded map+agg passes
    * (O(F) driver state each) + ONE final aggregate — the same shape as
    * x274, tripled, never a join wider than the feature table.
    */
  def aipwAte(
      labeled: DataFrame, idCol: String, textCol: String,
      treatCol: String, outcomeCol: String, iters: Int = 8,
      clipLoMicro: Long = 10000L, clipHiMicro: Long = 990000L): DataFrame = {
    require(clipLoMicro >= 1L && clipHiMicro <= 999999L && clipLoMicro < clipHiMicro)
    // r15: outcome carried through the featurization projection — no
    // doc_id join-back (exact by construction, one exchange fewer)
    val feat = Extensions.materialized(
      Extensions26.hashedFeaturesCarry(labeled, idCol, textCol, treatCol,
        Seq(col(outcomeCol).cast("long").as("yo"))))
    // r14 (guide §2.4): propensity + both outcome chains fused through
    // the multi-model kernel — iters+1 passes over the feature table
    // instead of 3·(iters+1) plus two checkpoint materializations; each
    // model's gradient sums are the same exact-integer term multisets
    // (label yo, rows gated by treatment), so all three weight vectors
    // are bit-identical to the separate trainings.
    val trained = Extensions26.trainLogregMultiTrace(feat, Seq(
      Extensions26.LogregSpec(None, col("y")),
      Extensions26.LogregSpec(Some(col("y") === 1L), col("yo")),
      Extensions26.LogregSpec(Some(col("y") === 0L), col("yo"))),
      iters = iters)
    val Seq(wE, w1, w0) = trained.traces.map(_.last)
    def sig(w: Array[Long]): Column =
      round(lit(1e6) / (lit(1.0) + exp(-marginMicro(w, col("x")) / lit(1e6))), 0)
        .cast("long")
    val scored = feat.select(
      col("y").as("t"), (col("yo") * 1000000L).as("ym"),
      least(greatest(sig(wE), lit(clipLoMicro)), lit(clipHiMicro)).as("e"),
      sig(w1).as("m1"), sig(w0).as("m0"))
    def sdiv(num: String, den: String) = sdivSql(num, den, "DIV")
    val terms = scored
      .withColumn("reg", col("m1") - col("m0"))
      .withColumn("ipw",
        col("t") * expr(sdiv("ym * 1000000", "e")) -
          (lit(1L) - col("t")) * expr(sdiv("ym * 1000000", "1000000 - e")))
      .withColumn("dr",
        col("reg") + col("t") * expr(sdiv("(ym - m1) * 1000000", "e")) -
          (lit(1L) - col("t")) * expr(sdiv("(ym - m0) * 1000000", "1000000 - e")))
    terms.agg(
        count(lit(1)).as("n"), sum(col("t")).as("n_treated"),
        sum(col("reg").cast("decimal(38,0)")).as("sreg"),
        sum(col("ipw").cast("decimal(38,0)")).as("sipw"),
        sum(col("dr").cast("decimal(38,0)")).as("sdr"))
      .select(col("n"), col("n_treated"),
        expr("CAST(" + sdivSql("sreg", "CAST(n AS DECIMAL(38,0))", "DIV") +
          " AS BIGINT)").as("reg_ate_micro"),
        expr("CAST(" + sdivSql("sipw", "CAST(n AS DECIMAL(38,0))", "DIV") +
          " AS BIGINT)").as("ipw_ate_micro"),
        expr("CAST(" + sdivSql("sdr", "CAST(n AS DECIMAL(38,0))", "DIV") +
          " AS BIGINT)").as("dr_ate_micro"))
  }

  /** x299: the x274/x296 question (being English → Gopher keep) closed
    * with the doubly-robust estimator — same world, so weighting,
    * matching, and AIPW readouts diff directly across the three cards.
    */
  def x299AipwAte(s: SparkSession, dir: String): DataFrame = {
    val labeled = Extensions20.gopherRuleCard(
        Tables.load(s, dir, "documents"), "doc_id", "text",
        carryCols = Seq("text", "lang"))
      .select(col("doc_id"), col("text"),
        (col("lang") === "en").cast("long").as("treat"),
        col("keep").cast("long").as("outcome"))
    aipwAte(labeled, "doc_id", "text", "treat", "outcome")
  }

  private val x299OracleSql: String = {
    val F = NumBuckets
    val head = s"""WITH d AS (
      SELECT doc_id, lang, text, string_split(lower(text), ' ') AS tk
      FROM documents),
    f0 AS (SELECT doc_id, lang, tk,
              CAST(len(tk) AS BIGINT) AS n_words,
              list_aggregate(list_transform(tk, t -> length(t)), 'sum') AS sum_len,
              len(list_filter(tk, t -> t IN ('the', 'a'))) AS n_stop,
              CASE WHEN len(tk) >= 2
                   THEN list_transform(generate_series(1, len(tk) - 1),
                          i -> tk[i] || ' ' || tk[i+1])
                   ELSE [] END AS g2
       FROM d),
    lab AS (SELECT doc_id, lang, tk,
        CASE WHEN n_words BETWEEN 50 AND 100000
              AND round(sum_len * 10000.0 / n_words, 0) / 10000.0 BETWEEN 3.0 AND 10.0
              AND round(n_stop * 10000.0 / n_words, 0) / 10000.0 <= 0.25
              AND (CASE WHEN len(g2) > 0
                        THEN round((len(g2) - len(list_distinct(g2))) * 10000.0 / len(g2), 0) / 10000.0
                        ELSE 0.0 END) <= 0.2
             THEN 1 ELSE 0 END AS yo
        FROM f0),
    feat AS MATERIALIZED (
      SELECT doc_id, CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y,
             CAST(yo AS BIGINT) AS yo,
             list_append(list_transform(generate_series(0, ${F - 1}),
               j -> CAST(len(list_filter(bks, b -> b = j)) AS BIGINT)), CAST(1 AS BIGINT)) AS x
      FROM (SELECT doc_id, lang, yo,
                   list_transform(tk, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT % $F) AS bks
            FROM lab))"""
    val eChain = Extensions117.chainG("e_", 8, "TRUE")
    val m1Chain = Extensions117.chainG("m1_", 8, "t = 1",
      "(SELECT yo AS y, y AS t, x FROM feat) fm1")
    val m0Chain = Extensions117.chainG("m0_", 8, "t = 0",
      "(SELECT yo AS y, y AS t, x FROM feat) fm0")
    def sigOf(w: String): String =
      s"""CAST(round(1e6 / (1.0 + exp(
          -CAST(list_sum(list_transform(generate_series(1, ${F + 1}),
            j -> $w.w[j] * f.x[j])) AS BIGINT) / 1e6)), 0) AS BIGINT)"""
    def sdiv(num: String, den: String) = sdivSql(num, den, "//")
    s"""$head,$eChain,$m1Chain,$m0Chain,
    sc AS (SELECT f.y AS t, f.yo * 1000000 AS ym,
             least(greatest(${sigOf("we")}, 10000), 990000) AS e,
             ${sigOf("w1")} AS m1, ${sigOf("w0")} AS m0
           FROM feat f, e_w8 we, m1_w8 w1, m0_w8 w0),
    tr AS (SELECT t, m1 - m0 AS reg,
             t * ${sdiv("ym * 1000000", "e")}
               - (1 - t) * ${sdiv("ym * 1000000", "1000000 - e")} AS ipw,
             (m1 - m0) + t * ${sdiv("(ym - m1) * 1000000", "e")}
               - (1 - t) * ${sdiv("(ym - m0) * 1000000", "1000000 - e")} AS dr
           FROM sc),
    ag AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(t) AS BIGINT) AS n_treated,
                  sum(reg) AS sreg, sum(ipw) AS sipw, sum(dr) AS sdr
           FROM tr)
    SELECT n, n_treated,
           CAST(${sdiv("sreg", "n")} AS BIGINT) AS reg_ate_micro,
           CAST(${sdiv("sipw", "n")} AS BIGINT) AS ipw_ate_micro,
           CAST(${sdiv("sdr", "n")} AS BIGINT) AS dr_ate_micro
    FROM ag"""
  }

  // ---- x300: event-path card --------------------------------------------------------

  /** Top-`topK` ordered event-type prefixes: each user's first `depth`
    * events (by the (ts, tie) total order) concatenated with '>', then
    * (path, n_users) by count desc, path asc. The literal Sankey
    * source table.
    *
    * Scale: ONE user-key exchange (the rank window), a user-level
    * hash-agg building each path from an array_sort on the rank (never
    * collect_list arrival order), and a top-k over the ≤ |types|^depth
    * path table — TakeOrderedAndProject, no global sort materialized.
    */
  def eventPathCard(
      events: DataFrame, userCol: String, typeCol: String, tsCol: String,
      tieCol: String, depth: Int = 5, topK: Int = 20): DataFrame = {
    require(depth >= 1 && topK >= 1, "eventPathCard: depth/topK must be >= 1")
    events
      .select(col(userCol).as("u"), col(typeCol).as("et"),
        col(tsCol).as("o1"), col(tieCol).as("o2"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("u")).orderBy(col("o1"), col("o2"))))
      .filter(col("rn") <= depth)
      .groupBy(col("u"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("rn").as("r"), col("et").as("e")))),
          s => s.getField("e")), ">").as("path"))
      .groupBy(col("path"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(topK)
  }

  /** x300: the top-20 5-event opening paths of the events table —
    * (ts, event_id) ordering, the q34/x194 tie-break verbatim.
    */
  def x300EventPaths(s: SparkSession, dir: String): DataFrame =
    eventPathCard(Tables.load(s, dir, "events"),
      "user_id", "event_type", "ts", "event_id")

  private val x300OracleSql: String = """
      WITH r AS (SELECT user_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
                 FROM events),
      p AS (SELECT user_id,
              string_agg(event_type, '>' ORDER BY rn) AS path
            FROM r WHERE rn <= 5 GROUP BY user_id)
      SELECT path, CAST(count(*) AS BIGINT) AS n_users
      FROM p GROUP BY path
      ORDER BY n_users DESC, path LIMIT 20"""

  val entries: Seq[Entry] = Seq(
    Entry("x298_pass_at_k", x298PassAtK _, x298OracleSql),
    Entry("x299_aipw_ate", x299AipwAte _, x299OracleSql),
    Entry("x300_event_paths", x300EventPaths _, x300OracleSql))
}
